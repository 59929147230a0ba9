"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``mvp_mini_etl_pipeline_1762840347_spark``
package; this module only adapts it to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mvp_mini_etl_pipeline_1762840347_spark import plans  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _latest_green_round() -> dict[str, int]:
    """name -> latest round with a green driver CORRECTNESS row.

    Read from the committed CORRECTNESS_r*.json artifacts next to this
    file, so the staleness ordering below updates itself each round
    without hand-editing.  Missing/unreadable artifacts simply yield
    fewer entries (names absent sort as round 0 = stalest).

    A RED row NEWER than the latest green demotes the name to round 0:
    a query that regressed after its last green must re-check FIRST,
    not sit mid-pack on its stale green timestamp (ADVICE r9).
    """
    import glob
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    latest_red: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError, json.JSONDecodeError):
            continue
        for name, rec in rows.items():
            if not isinstance(rec, dict):
                continue
            # None hash_match = rows-only check, counts as green.
            green = bool(rec.get("rows_match")) and rec.get("hash_match") is not False
            if green:
                latest[name] = max(latest.get(name, 0), rnd)
            else:
                latest_red[name] = max(latest_red.get(name, 0), rnd)
    for name, red_rnd in latest_red.items():
        if red_rnd > latest.get(name, 0):
            latest[name] = 0  # regressed-after-green -> stalest bucket
    return latest


def _coverage_ordered(mapping: dict) -> dict:
    """Stalest first: sort on (latest green driver round, registry
    position), so never-green or regressed names (round 0) lead and
    the oldest-verified follow.  The driver oracle-checks ~50 names
    per round in dict order, so this rotation re-proves the longest-
    unverified queries every round."""
    latest = _latest_green_round()
    registry_pos = {k: i for i, k in enumerate(mapping)}
    names = sorted(mapping, key=lambda k: (latest.get(k, 0), registry_pos[k]))
    return {k: mapping[k] for k in names}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the pricing-summary aggregation."""
    return plans.QUERIES["groupby_pricing"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _coverage_ordered(dict(plans.QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-dialect oracle SQL per query (same column names/values)."""
    return _coverage_ordered(dict(plans.ORACLES))
