"""Session set-up: what ``setup_s`` times.

``setup()`` starts the tuned SparkSession through
``session.get_spark`` and warms the JVM, codegen and the Arrow/Python
worker pool with the same two warm-up operations as ``bench.py``.
"""

from __future__ import annotations

import time


def setup(sf_dir: str):
    """Return ``(spark, start_s, warmup_s)``."""
    from mvp_mini_etl_pipeline_1762840347_spark import plans
    from mvp_mini_etl_pipeline_1762840347_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    plans.QUERIES["metrics_customer"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(1).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    return spark, t1 - t0, time.perf_counter() - t1

