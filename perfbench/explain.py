"""Record the first traced per-layer explanation (``first_trace.json``).

Runs the traced benchmark once per workload (``run.py --trace 1``) and
keeps, for the ops the roadmap asks about, the first cold-pass and
first warm-pass rows of the per-layer map: wall, build and execute
seconds, self time per layer, and the Spark jobs, stages, tasks, task
time and driver gap attributed to the op.  Named ops that are not in a
timed set (``release_delta_day2`` is too slow cold for one;
``exact_deciles`` and ``session_paths`` did not fit the run budget)
get a dedicated traced run each, with the same launcher settings and
one cold and one warm pass.  Each workload's measured
``trace.overhead_frac`` is kept too.

    python3 perfbench/explain.py [--seed 1] [--seconds 30]
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
sys.path.insert(0, HERE)

import run  # noqa: E402
from fixture import Fixture  # noqa: E402

NAMED = {
    "warehouse_etl": ("release_delta_day2",),
    "analytics": ("exact_deciles", "session_paths", "similarity_ivf"),
}


def rows_for(report: dict, op: str) -> list[dict]:
    """The op's first cold and first warm row."""
    rows = [r for r in report["op_rows"] if r["op"] == op]
    return [r for r in rows if r["cold"]][:1] + [r for r in rows if not r["cold"]][:1]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    a = ap.parse_args()
    out = {"cpus": os.cpu_count(), "seed": a.seed, "seconds": a.seconds,
           "overhead_frac": {}, "rows": {}}
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    for w in workloads:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "1"],
            check=True, stdout=subprocess.DEVNULL)
        with open(os.path.join(run.WORK, "reports", f"{w}-seed{a.seed}-trace1.json")) as f:
            rep = json.load(f)
        out["overhead_frac"][w] = rep["layers"]["trace.overhead_frac"]["value"]
        for op in NAMED.get(w, ()):
            if op in workloads[w]["timed"]:
                out["rows"][op] = {"workload": w, "passes": rows_for(rep, op)}
                continue
            args = argparse.Namespace(workload=w, seed=a.seed, seconds=a.seconds, ops=[op])
            run_dir = os.path.join(run.WORK, "runs", f"explain-{op}-{os.getpid()}")
            try:
                with Fixture(a.seed) as fx:
                    own = run.run_worker(args, run.SF_DIR, run_dir, fx.env(), True,
                                         time.time() + 600)
            finally:
                shutil.rmtree(run_dir, ignore_errors=True)
            out["rows"][op] = {"workload": f"{w} (dedicated run)", "passes": rows_for(own, op)}
    with open(os.path.join(HERE, "first_trace.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps(out["overhead_frac"]))


if __name__ == "__main__":
    main()
