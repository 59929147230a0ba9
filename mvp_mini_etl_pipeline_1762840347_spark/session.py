"""SparkSession factory.

Tuned for the local[32] test harness but every knob is chosen so the
same code is correct on a 1000-executor cluster:

* AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast conversion) -- the main scale lever we rely on instead of
  hand-tuning per-query shuffle counts.
* shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescePartitions makes the initial number mostly irrelevant.
* session timezone pinned UTC so event-time semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
* Arrow enabled for every pandas interchange path (Pandas UDFs,
  toPandas) -- the only sanctioned Python escape hatch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "mvp_mini_etl_spark", cpus: int | None = None) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    In tests and bench we run ``local[N]``; in production the master URL
    comes from spark-submit and everything here still applies.
    """
    n = cpus or DEFAULT_CPUS
    # SPARK_GRAFT_AQE=0 disables adaptive execution for the
    # plan-independence gate: results must not depend on AQE's runtime
    # re-planning (coalescing, skew splits, broadcast conversion).
    aqe = os.environ.get("SPARK_GRAFT_AQE", "1") != "0"
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.skewJoin.enabled", str(aqe).lower())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        # Only force a master when none was provided by the launcher, so
        # spark-submit --master yarn/k8s wins on a real cluster.
        existing = SparkSession.getActiveSession()
        if existing is None:
            builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"))
            builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
