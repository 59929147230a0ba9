"""Workload self-test on the small reference tables (sf0.001).

Checks, without touching the timed benchmark:

1. every registered query appears in exactly one workload's op list,
   and every timed op is in its workload's list;
2. one traced run per workload completes with every output check
   green and carries every end-to-end and per-layer metric with its
   unit (end-to-end metrics also with their sample count);
3. each workload is the control for the other's mechanism: on
   ``warehouse_etl`` the fragment fill/serve counters are exactly 0,
   on ``analytics`` the table-format commit counter is exactly 0;
4. on ``analytics`` fragments are filled in every cold pass and
   served in every warm pass;
5. the fragment wrapper counts a fill nested in another fill's build
   once, as a fill, and a fragment served inside a fill as a serve,
   and ``fragments.fill_s`` counts nested fill time once;
6. with ``--oracle-all``, every registered query -- not only the timed
   ones -- matches its DuckDB oracle on the sf0.001 tables
   (``tools/verify_local.py``).

    python3 perfbench/selftest.py [--seconds 25] [--oracle-all]

Prints one line per check and exits non-zero if any fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402
from fixture import Fixture  # noqa: E402
from tracing import Tracer, fill_seconds, install_layers  # noqa: E402

E2E_ALL = ("setup_s", "cold_pass_s", "warm_pass_s", "warm_pass_cpu_s", "op_p50_s", "op_p90_s",
           "failed_frac", "peak_rss_mb")
E2E_WAREHOUSE = ("pipeline_run_s", "stream_rows_per_s")


def nested_fragments() -> tuple[dict, float, float]:
    """Counters and ``fill_s`` of a fill whose build fills one fragment
    and is served another, against the outer fill's wall."""
    from types import SimpleNamespace

    from mvp_mini_etl_pipeline_1762840347_spark.plans import fragments

    class Frame:
        def localCheckpoint(self):
            return self

    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="selftest"))

    def leaf():
        time.sleep(0.05)
        return Frame()

    def outer():
        fragments.cached_frame(spark, ("served",), leaf)
        fragments.cached_frame(spark, ("inner",), leaf)
        time.sleep(0.05)
        return Frame()

    os.environ["SPARK_GRAFT_FRAGMENT_CACHE"] = "1"
    tracer = Tracer(True)
    fragments.cached_frame(spark, ("served",), leaf)  # filled before tracing
    install_layers(tracer)
    try:
        t0 = time.perf_counter()
        fragments.cached_frame(spark, ("outer",), outer)
        wall = time.perf_counter() - t0
    finally:
        tracer.unwrap()
        fragments.clear()
    return dict(tracer.counters), fill_seconds(tracer.spans), wall


def oracle_all(sf_dir: str, run_dir: str) -> bool:
    """tools/verify_local.py over every query, isolated like a run."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, TMPDIR=tmp, PYTHONPATH=ROOT,
               SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
               SPARK_GRAFT_DRIVER_MEM=run.driver_mem())
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "verify_local.py"), sf_dir],
        cwd=run_dir, env=env, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    print("     " + (lines[-1] if lines else f"verify_local exited {proc.returncode}"))
    return proc.returncode == 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--oracle-all", action="store_true")
    a = ap.parse_args()
    bad: list[str] = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            bad.append(what)

    from mvp_mini_etl_pipeline_1762840347_spark import plans

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seen: dict[str, list[str]] = {}
    for w, spec in workloads.items():
        for name in spec["ops"]:
            seen.setdefault(name, []).append(w)
        check(set(spec["timed"]) <= set(spec["ops"]), f"{w}: timed ops are in its op list")
    check(set(seen) == set(plans.QUERIES), "op lists cover exactly the registry")
    check(all(len(v) == 1 for v in seen.values()), "every query is in exactly one workload")

    counters, fill_s, wall = nested_fragments()
    check(counters.get("fragments.fills") == 2 and counters.get("fragments.serves") == 1,
          f"nested fragments: 2 fills and 1 serve counted {counters}")
    check(wall * 0.9 <= fill_s <= wall, f"nested fragments: fill_s {fill_s:.3f} s within the outer fill's {wall:.3f} s")

    work = os.path.join(run.WORK, "selftest")
    sf_dir = os.path.join(HERE, "data", "sf0.001")
    shutil.rmtree(work, ignore_errors=True)
    try:
        for w in workloads:
            args = argparse.Namespace(workload=w, seed=a.seed, seconds=a.seconds)
            with Fixture(a.seed) as fx:
                rep = run.run_worker(args, sf_dir, os.path.join(work, w), fx.env(),
                                     True, time.time() + 600)
            check(not rep["failed_ops"], f"{w}: every output check passes {rep['failed_ops']}")
            want = E2E_ALL + (E2E_WAREHOUSE if w == "warehouse_etl" else ())
            check(all(k in rep["e2e"] and {"value", "unit", "samples"} <= set(rep["e2e"][k])
                      for k in want), f"{w}: end-to-end metrics carry unit and sample count")
            layers = rep["layers"]
            names = {m["name"] for m in bench["per_layer"]} - {"trace.overhead_frac"}
            check(names <= set(layers) and all("unit" in layers[k] for k in names),
                  f"{w}: every per-layer metric is reported with its unit")
            if w == "warehouse_etl":
                zero = [k for k in ("fragments.fills", "fragments.serves") if layers[k]["value"]]
                check(not zero, f"warehouse_etl: fragment counters are 0 {zero}")
            if w == "analytics":
                check(layers["table_format.commits"]["value"] == 0,
                      "analytics: table-format commit counter is 0")
                by_pass = rep["fragments_by_pass"]
                cold = [p for p in by_pass if p["cold"]]
                warm = [p for p in by_pass if not p["cold"]]
                check(all(p["fills"] > 0 for p in cold), f"analytics: cold passes fill {cold}")
                check(all(p["serves"] > 0 for p in warm), f"analytics: warm passes serve {warm}")
        if a.oracle_all:
            check(oracle_all(sf_dir, os.path.join(work, "oracle-all")),
                  "every registered query matches its oracle on the sf0.001 tables")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{'FAILED' if bad else 'PASSED'}: {len(bad)} failing check(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
