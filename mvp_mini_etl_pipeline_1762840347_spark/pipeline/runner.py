"""Pipeline orchestration (SURVEY §2.8 ST1-ST4): the 3-stage
extract -> transform -> load state machine with per-stage status,
append-only run log, measured metrics, and idempotent restart.

Reference semantics re-created:
* ST1 stage statuses pending -> active -> done (pages/index.js:38-78),
  here driven by real stage completion instead of setTimeout theater.
* ST2 append-only log rows `(ts, stage, message)` incl. row counts
  (pages/index.js:50-54, src/mock-data/etl.json:9-13).
* ST3 restart = re-run the whole extract/transform/load idempotently
  (pages/api/etl/restart.js:4-28).
* ST4 provenance (fallback_used / source_url / fetched_at) propagated
  into the run record (users.js:43,56).
* A8 metrics record {rows_in, rows_out, dedup_removed, countries,
  last_record, duration_sec} (users.js:65-79) -- duration measured
  for real, unlike the reference's hard-coded 95 s.

The orchestration is driver-side Python (stage list = plain data, as
in the reference's etl.json "pipeline" array); all row-level work is
DataFrame ops.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.js import js_str_or
from ..io import local_frame
from .sinks import users_export_projection, write_csv
from .sources import ExtractResult, load_users

PIPELINE_STAGES = ["extract", "transform", "load"]


def _now_iso() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")


@dataclass
class PipelineRun:
    """One pipeline execution: stage statuses, log, metrics, provenance."""

    stages: dict[str, str] = field(
        default_factory=lambda: {s: "pending" for s in PIPELINE_STAGES}
    )
    log: list[tuple[str, str, str]] = field(default_factory=list)  # (ts, stage, msg)
    metrics: dict = field(default_factory=dict)
    fallback_used: bool = False
    source_url: str = ""
    fetched_at: str = ""
    output_path: str | None = None

    def log_line(self, stage: str, message: str) -> None:
        self.log.append((_now_iso(), stage.capitalize(), message))

    def log_df(self, spark: SparkSession) -> DataFrame:
        """ST2 log as a DataFrame (ts, stage, message)."""
        return local_frame(spark, self.log, "ts string, stage string, message string")


def build_metrics(users: DataFrame) -> dict:
    """A1-A5/A8 metrics record (reference src/lib/users.js:65-79):
    one global aggregate pass, JS-falsy country coalesce, last record
    by explicit ingest order."""
    country = js_str_or(F.col("nat"), F.col("location.country"))
    row = (
        users.agg(
            F.count("*").alias("rows_in"),
            F.count(F.when(F.col("valid") & (F.col("email") != ""), 1)).alias(
                "rows_out"
            ),
            F.countDistinct(
                F.when(country.isNotNull() & (country != ""), country)
            ).alias("countries"),
            F.max_by("name", "ingest_idx").alias("last_record"),
        )
        .collect()[0]
        .asDict()
    )
    row["dedup_removed"] = row["rows_in"] - row["rows_out"]
    row["last_record"] = row["last_record"] or "n/a"
    return row


def run_pipeline(
    spark: SparkSession,
    out_dir: str | None = None,
    extract_fn: Callable[[SparkSession], ExtractResult] | None = None,
) -> PipelineRun:
    """Run extract -> transform -> load once (ST3 restart = call again;
    every step is idempotent over the same source)."""
    run = PipelineRun()
    t0 = time.time()

    # -- extract (S1/S7) ----------------------------------------------------
    run.stages["extract"] = "active"
    ext = (extract_fn or load_users)(spark)
    # Metrics, filter and export each re-scan the extracted frame.  It
    # is a driver-built local relation (io.local_frame), so a re-scan
    # is a JVM-only LocalTableScan and no cache is kept: caching it
    # would cost a materialising job and buy nothing.
    users = ext.df
    rows_in = users.count()
    run.fallback_used = ext.fallback_used
    run.source_url = ext.source_url
    run.fetched_at = ext.fetched_at
    run.stages["extract"] = "done"
    run.log_line("extract", f"Fetched {rows_in} records"
                 + (" (fallback dataset)" if ext.fallback_used else ""))

    # -- transform (P3 filter + metrics aggregate) --------------------------
    run.stages["transform"] = "active"
    valid = users.filter(F.col("valid") & (F.col("email") != ""))
    run.metrics = build_metrics(users)
    run.stages["transform"] = "done"
    run.log_line(
        "transform",
        f"Validated {run.metrics['rows_out']} records, "
        f"removed {run.metrics['dedup_removed']}",
    )

    # -- load (K1 CSV) ------------------------------------------------------
    run.stages["load"] = "active"
    if out_dir:
        run.output_path = write_csv(users_export_projection(valid), out_dir)
        run.log_line("load", f"Exported CSV to {run.output_path}")
    else:
        run.log_line("load", "Load skipped (no output dir)")
    run.stages["load"] = "done"

    run.metrics["duration_sec"] = round(time.time() - t0, 3)
    return run
