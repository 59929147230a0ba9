"""Job census: how many Spark jobs, and how many parquet schema-
inference jobs, each registered query launches.

One pass over ``queries()`` in registry order (or over the named
queries), each query built and then executed through the noop sink as
``bench.py`` does, under ``setJobGroup(<name>)``.  Right after the
write the query's jobs are read from ``statusTracker()`` (the status
store keeps only the last 1,000 jobs, so counts are read per query).
A job counts as a parquet read when its stage is named
``parquet at ...``: the footer job ``spark.read.parquet`` runs to infer
a schema.  Jobs that ran with no group (threads that did not inherit
the caller's local properties) are counted per query in the
``free`` column, as the ungrouped jobs that appeared while it ran.  Usage, from
the repo root (the ``mapInPandas`` queries' Python workers import the
package from the cwd):

    python tools/job_census.py [sf_dir] [query ...]

``sf_dir`` defaults to the committed ``perfbench/data/sf0.1``; the
fragment cache is on, as in ``bench.py``, and the session runs at
``local[$SPARK_GRAFT_CPUS]`` (default 4).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

os.environ.setdefault("SPARK_GRAFT_FRAGMENT_CACHE", "1")
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

import __spark_entry__ as entrymod  # noqa: E402
from mvp_mini_etl_pipeline_1762840347_spark.session import get_spark  # noqa: E402


def group_counts(sc, group: str | None) -> tuple[int, int]:
    """(jobs, parquet-inference jobs) the status store holds for a job
    group (``None``: jobs that ran with no group)."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    reads = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        stages = [tracker.getStageInfo(s) for s in (info.stageIds if info else [])]
        if any(s is not None and s.name.startswith("parquet at ") for s in stages):
            reads += 1
    return len(jobs), reads


def main() -> int:
    args = sys.argv[1:]
    sf_dir = os.path.join(ROOT, "perfbench", "data", "sf0.1")
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    queries = entrymod.queries()
    names = args or list(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("job_census")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen_free = set(tracker.getJobIdsForGroup(None))
    total_jobs = total_reads = total_free = ran = 0
    failed = []
    t0 = time.perf_counter()
    print(f"{'query':40s} {'jobs':>5s} {'reads':>5s} {'free':>5s} {'sec':>7s}")
    for name in names:
        sc.setJobGroup(name, name)
        q0 = time.perf_counter()
        try:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - a census reports, it does not stop
            failed.append(name)
            print(f"{name:40s} FAILED {type(exc).__name__}: {str(exc).splitlines()[0][:80]}")
            continue
        jobs, reads = group_counts(sc, name)
        free = set(tracker.getJobIdsForGroup(None)) - seen_free
        seen_free |= free
        ran += 1
        total_jobs += jobs
        total_reads += reads
        total_free += len(free)
        print(
            f"{name:40s} {jobs:5d} {reads:5d} {len(free):5d} "
            f"{time.perf_counter() - q0:7.2f}"
        )
    print(
        f"TOTAL {ran} queries ran ({len(failed)} failed): {total_jobs} jobs, "
        f"{total_reads} parquet reads in query groups, {total_free} jobs "
        f"with no group; {time.perf_counter() - t0:.1f} s"
    )
    if failed:
        print("FAILED " + " ".join(failed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
