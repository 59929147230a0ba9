from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mvp_mini_etl_pipeline_1762840347_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(call)`` -> (``call()``'s result, the number of Spark
    jobs it launched), counted from ``statusTracker`` under a fresh job
    group once the listener bus has delivered every job event.

    The group isolates a call only from work that runs outside it.  A
    group set inside one member of ``plans/fragments.py::fan_out`` does
    not isolate that member from its concurrently running siblings:
    their broadcast jobs can land in it (seen on a ``local[8]``
    session), so count a fan-out member's jobs by running the members
    one after another."""
    import itertools

    sc = spark.sparkContext
    groups = itertools.count()

    def run(call):
        group = f"count-jobs-{id(run)}-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            out = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
