"""Regenerate the op lists of ``workloads.json`` from the query registry.

Every registered query lands in exactly one workload:

1. ``warehouse_etl`` -- the query's call writes under the run's scratch
   root (``TMPDIR``): stores, snapshot tables, result caches;
2. ``analytics`` -- every other query (the read-only corpus-curation
   and star-schema queries).

The rule is observed, not declared.  In one session over the
benchmark's reference tables (fragment cache on, as in the benchmark) each query is built
and executed twice: first in isolation -- the fragment cache and the
state memos are cleared before the call, so the query pays for every
store and fragment it needs -- recording whether it wrote; then once
more in registry order without clearing.  The walls of both calls are
written to ``--costs`` for choosing the timed subsets; the timed
subsets themselves (``timed`` in ``workloads.json``) are kept as
committed.

    python3 perfbench/classify.py [--costs costs.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = os.path.join(HERE, "workloads.json")


def _tree(root: str) -> set[str]:
    return {
        os.path.join(d, n) for d, dirs, files in os.walk(root) for n in dirs + files
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--costs", default=None, help="write per-query walls here")
    a = ap.parse_args()

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="classify-", dir=os.path.join(ROOT, ".perfbench"))
    os.chdir(work)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_FRAGMENT_CACHE"] = "1"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = ROOT
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import run
    from probe import setup

    from mvp_mini_etl_pipeline_1762840347_spark import plans
    from mvp_mini_etl_pipeline_1762840347_spark.plans import fragments

    sf_dir = run.SF_DIR
    spark, _, _ = setup(sf_dir)

    writes: set[str] = set()
    costs: dict[str, list[float]] = {}
    for isolated in (True, False):
        for name, fn in plans.QUERIES.items():
            if isolated:
                fragments.clear()
            before = _tree(work)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            costs.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
            if isolated and _tree(work) - before:
                writes.add(name)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)

    ops = {
        "warehouse_etl": [n for n in plans.QUERIES if n in writes],
        "analytics": [n for n in plans.QUERIES if n not in writes],
    }

    with open(WORKLOADS) as f:
        doc = json.load(f)
    for w, names in ops.items():
        doc["workloads"][w]["ops"] = names
    with open(WORKLOADS, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    if a.costs:
        with open(a.costs, "w") as f:
            json.dump(costs, f, indent=1)
    print({w: len(n) for w, n in ops.items()})


if __name__ == "__main__":
    main()
