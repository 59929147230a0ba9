"""``io.read_parquet``: the package's one parquet reader infers a
path's schema once and then reads with it, launching no job, for as
long as the path's files and the parquet inference confs are
unchanged."""

from __future__ import annotations

import inspect
import os
import pathlib
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from mvp_mini_etl_pipeline_1762840347_spark import io
from mvp_mini_etl_pipeline_1762840347_spark.io import read_parquet, read_table

PACKAGE = pathlib.Path(io.__file__).parent
_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _plan(df) -> str:
    """The physical plan with expression ids dropped."""
    return re.sub(r"#\d+", "", df._jdf.queryExecution().executedPlan().toString())


def test_second_read_table_launches_no_job(spark, sf_dir, tmp_path, count_jobs):
    shutil.copy(os.path.join(sf_dir, "region.parquet"), tmp_path)
    first, cold = count_jobs(lambda: read_table(spark, str(tmp_path), "region"))
    second, warm = count_jobs(lambda: read_table(spark, str(tmp_path), "region"))
    assert cold >= 1  # the first read infers, as spark.read.parquet does
    assert warm == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())
    assert _plan(second) == _plan(first)


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": pa.array(["x"]), "c": pa.array([1.5])}), path)
    df = read_parquet(spark, path)
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert df.collect()[0].asDict() == {"b": "x", "c": 1.5}


def test_directory_gaining_a_file_is_reinferred(spark, tmp_path, count_jobs):
    """A directory's stamp covers every entry in it: a newly landed
    part file re-infers instead of serving the old entry."""
    d = tmp_path / "landing"
    d.mkdir()
    pq.write_table(pa.table({"a": pa.array([1])}), str(d / "part-0.parquet"))
    assert read_parquet(spark, str(d)).count() == 1
    pq.write_table(pa.table({"a": pa.array([2])}), str(d / "part-1.parquet"))
    _, jobs = count_jobs(lambda: read_parquet(spark, str(d)))
    assert jobs >= 1
    assert read_parquet(spark, str(d)).count() == 2


def test_nanos_as_long_flip_reinfers(spark, tmp_path):
    path = str(tmp_path / "ts.parquet")
    ts = pa.array([1_000_000_123, 2_000_000_000], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path)
    before = spark.conf.get(_NANOS)
    try:
        spark.conf.set(_NANOS, "true")
        assert read_parquet(spark, path).dtypes == [("ts", "bigint")]
        # with the conf off Spark cannot infer TIMESTAMP(NANOS) at all:
        # the error proves the memoized bigint schema was not served
        spark.conf.set(_NANOS, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
        spark.conf.set(_NANOS, "true")
        assert read_parquet(spark, path).collect()[0].ts == 1_000_000_123
    finally:
        spark.conf.set(_NANOS, before)


def test_missing_path_fails_as_spark_does(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "absent.parquet"))


def test_spark_read_parquet_only_inside_read_parquet():
    lines, start = inspect.getsourcelines(io.read_parquet)
    helper = range(start, start + len(lines))
    hits = [
        (path.relative_to(PACKAGE).as_posix(), n)
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "read.parquet(" in line
    ]
    assert hits, "read_parquet no longer calls spark.read.parquet"
    assert [h for h in hits if h[0] != "io.py" or h[1] not in helper] == []
