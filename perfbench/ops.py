"""The operations a workload runs, each with its output check.

* ``QueryOp`` -- one registered query: build ``QUERIES[name](spark,
  sf_dir)`` (driver-side construction, eager actions included), then
  execute it through the noop sink as ``bench.py`` does.  Checked
  against the query's DuckDB oracle with ``tools/verify_local.compare``.
* ``PipelineOp`` -- the reference's own extract -> transform -> load:
  ``pipeline.runner.run_pipeline`` to CSV over the loopback users
  fixture, plus the launches extract loaded through ``sinks.write_json``.
  Checked against the fixture's known counts and by reading the
  outputs back.
* ``StreamOp`` -- a replay of the landed ``events`` files with
  ``maxFilesPerTrigger=1`` into a fresh table: the hourly rollup
  (two-rename ``exactly_once_table_merge``) or the per-user
  SnapshotTable merge (pointer swap).  Checked against its batch twin.

Every op's ``run`` returns the seconds it spent building and executing;
``check`` returns ``"OK"`` or a one-line reason.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd


@dataclass
class Context:
    spark: object
    sf_dir: str
    scratch: str
    tracer: object
    landing: str | None = None
    landed_rows: int = 0
    oracle_cache: str | None = None
    expected: dict = field(default_factory=dict)


class QueryOp:
    kind = "query"

    def __init__(self, name: str) -> None:
        self.name = name

    def run(self, ctx: Context, pass_no: int) -> tuple[float, float]:
        from mvp_mini_etl_pipeline_1762840347_spark import plans

        t0 = time.perf_counter()
        with ctx.tracer.span("plans.build"):
            df = plans.QUERIES[self.name](ctx.spark, ctx.sf_dir)
        t1 = time.perf_counter()
        with ctx.tracer.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    def check(self, ctx: Context) -> tuple[str, int]:
        from mvp_mini_etl_pipeline_1762840347_spark import plans
        from verify_local import compare

        got = plans.QUERIES[self.name](ctx.spark, ctx.sf_dir).toPandas()
        want = oracle_answer(ctx, plans.ORACLES[self.name])
        return compare(self.name, got, want), len(got)


def oracle_answer(ctx: Context, sql: str) -> pd.DataFrame:
    """The DuckDB oracle's answer, cached on disk by sf dir and SQL
    text (pickles this benchmark wrote itself)."""
    key = hashlib.sha1(f"{ctx.sf_dir}\0{sql}".encode()).hexdigest()
    path = os.path.join(ctx.oracle_cache, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    import duckdb

    from mvp_mini_etl_pipeline_1762840347_spark.io import TABLES

    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.sf_dir}/{t}.parquet')"
            )
        df = con.sql(sql).df()
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


class PipelineOp:
    kind = "pipeline"
    name = "pipeline.run_pipeline"

    def __init__(self) -> None:
        self.last: dict | None = None
        self.durations: list[float] = []
        self.fallback_used = 0

    def run(self, ctx: Context, pass_no: int) -> tuple[float, float]:
        from mvp_mini_etl_pipeline_1762840347_spark.pipeline import runner, sinks, sources

        t0 = time.perf_counter()
        out = os.path.join(ctx.scratch, f"pipeline-{pass_no}")
        run = runner.run_pipeline(ctx.spark, out_dir=os.path.join(out, "csv"))
        with ctx.tracer.span("pipeline.extract"):
            ext = sources.load_launches(ctx.spark)
        with ctx.tracer.span("pipeline.transform"):
            launch_metrics = sources.build_launch_metrics(ext.df)
        json_dir = os.path.join(out, "launches")
        with ctx.tracer.span("pipeline.load"):
            sinks.write_json(ext.df, json_dir)
        self.fallback_used += int(run.fallback_used or ext.fallback_used)
        self.durations.append(run.metrics["duration_sec"])
        if self.last is not None:
            shutil.rmtree(self.last["dir"], ignore_errors=True)
        self.last = {
            "dir": out, "run": run, "launch_metrics": launch_metrics, "json_dir": json_dir,
        }
        return 0.0, time.perf_counter() - t0

    def check(self, ctx: Context) -> tuple[str, int]:
        want = ctx.expected
        last = self.last
        if self.fallback_used:
            return f"FALLBACK used in {self.fallback_used} run(s)", 0
        got_users = {k: last["run"].metrics[k] for k in want["users"]}
        if got_users != want["users"]:
            return f"METRICS {got_users} vs {want['users']}", 0
        got_launches = {k: last["launch_metrics"][k] for k in want["launches"]}
        if got_launches != want["launches"]:
            return f"LAUNCHES {got_launches} vs {want['launches']}", 0
        spark = ctx.spark
        csv_rows = spark.read.option("header", True).csv(last["run"].output_path).count()
        if csv_rows != want["users"]["rows_out"]:
            return f"CSV {csv_rows} rows vs rows_out {want['users']['rows_out']}", 0
        json_rows = spark.read.json(last["json_dir"]).count()
        if json_rows != want["launches"]["rows_in"]:
            return f"JSON {json_rows} rows vs {want['launches']['rows_in']}", 0
        return "OK", csv_rows


class StreamOp:
    kind = "stream"

    def __init__(self, flavour: str) -> None:
        if flavour not in ("hourly_rollup", "snapshot_table"):
            raise ValueError(f"unknown stream op {flavour!r}")
        self.flavour = flavour
        self.name = f"stream.{flavour}"
        self.last_dir: str | None = None
        self.wall = 0.0
        self.rows = 0

    def run(self, ctx: Context, pass_no: int) -> tuple[float, float]:
        from mvp_mini_etl_pipeline_1762840347_spark.streaming import jobs

        t0 = time.perf_counter()
        target = os.path.join(ctx.scratch, f"{self.flavour}-{pass_no}")
        events = jobs.stream_events(ctx.spark, ctx.landing, max_files_per_trigger=1)
        if self.flavour == "hourly_rollup":
            q = jobs.hourly_rollup_stream(ctx.spark, events, target)
        else:
            q = jobs.merge_stream_into_snapshot_table(ctx.spark, events, target)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        wall = time.perf_counter() - t0
        ctx.tracer.count(
            "streaming.batch_s",
            sum(p["durationMs"].get("triggerExecution", 0) for p in q.recentProgress) / 1000,
        )
        self.wall += wall
        self.rows += ctx.landed_rows
        if self.last_dir is not None:
            for d in (self.last_dir, self.last_dir + "_chk"):
                shutil.rmtree(d, ignore_errors=True)
        self.last_dir = target
        return 0.0, wall

    def check(self, ctx: Context) -> tuple[str, int]:
        from pyspark.sql import functions as F

        from mvp_mini_etl_pipeline_1762840347_spark.io import read_events
        from mvp_mini_etl_pipeline_1762840347_spark.operators.table_format import SnapshotTable
        from verify_local import compare

        ev = read_events(ctx.spark, ctx.sf_dir)
        if self.flavour == "hourly_rollup":
            got = ctx.spark.read.parquet(self.last_dir)
            twin = ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type").agg(
                F.count("*").alias("pc"), F.sum("value").alias("pv")
            )
        else:
            got = SnapshotTable(ctx.spark, self.last_dir).read()
            twin = ev.groupBy("user_id").agg(
                F.count("*").alias("n_events"), F.sum("value").alias("total_value")
            )
        got_pd = got.toPandas()
        return compare(self.name, got_pd, twin.toPandas()), len(got_pd)


def land_events(sf_dir: str, landing: str, seed: int, files: int) -> int:
    """Split the events table, in event-time order, into ``files``
    landed parquet files at seeded cut points.  Returns the row count."""
    import numpy as np
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    n = table.num_rows
    rng = np.random.default_rng([seed, 7])
    cuts = np.sort(rng.choice(np.arange(1, n), size=files - 1, replace=False))
    os.makedirs(landing)
    for k, (a, b) in enumerate(zip([0, *cuts], [*cuts, n])):
        pq.write_table(table.slice(a, b - a), os.path.join(landing, f"part-{k:03d}.parquet"))
    return n


def build(spec: dict) -> list:
    """The op objects of one workload's timed set."""
    ops: list = [QueryOp(n) for n in spec["timed"]]
    for special in spec.get("extra", []):
        if special == "pipeline":
            ops.append(PipelineOp())
        else:
            ops.append(StreamOp(special))
    return ops
