"""Benchmark launcher: one run of one workload in a fresh driver process.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 30 --trace 0

Reads the reference tables committed under ``perfbench/data/sf0.1``,
serves the seeded loopback extract fixture, runs ``SETUP_PROBES``
set-up-only processes and then ``worker.py``, each with its cwd,
``TMPDIR`` and Spark local dirs inside the run's scratch area under
``.perfbench/`` of the checkout, then prints one line per metric (name, value,
unit, sample count) and, last, one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` first runs an untraced cold-only worker (the baseline of
``trace.overhead_frac``), then a worker with Spark's event log on and
the layers wrapped, and reports the per-layer metrics instead.  The scratch area is measured
and removed before exit; the full report is kept in
``.perfbench/reports/``.  Exits non-zero, printing no result, when the
program is missing, a run fails to finish, or a metric is absent.
``--workload all`` runs every workload in turn, each in its own process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import shlex
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# the reference tables at sf0.1, committed with the benchmark; they are
# fixed, and the run seed drives everything else
SF_DIR = os.path.join(HERE, "data", "sf0.1")
DEADLINE_S = 170.0
# set-up-only processes before an untraced run's worker: setup_s is the
# median of their set-ups and the worker's own (a set-up costs ~13 s at
# 4 cores, so more would not fit the run budget)
SETUP_PROBES = 1
DRIVER_MEM_MB = 2048
REQUIRED = (
    "mvp_mini_etl_pipeline_1762840347_spark/session.py",
    "mvp_mini_etl_pipeline_1762840347_spark/plans/__init__.py",
    "tools/verify_local.py",
)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            if os.path.isfile(p) and not os.path.islink(p):
                files += 1
                size += os.path.getsize(p)
    return files, size


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def driver_mem() -> str:
    """2 GB, or a quarter of physical RAM if that is smaller."""
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    return f"{min(DRIVER_MEM_MB, total_mb // 4)}m"


def stop_group(pgid: int, timeout: float = 30.0) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
        end = time.time() + timeout
        while time.time() < end:
            os.killpg(pgid, 0)  # raises once the group is empty
            time.sleep(0.05)
    except ProcessLookupError:
        return
    raise RuntimeError(f"processes of group {pgid} did not stop")


def run_worker(args, sf_dir: str, run_dir: str, fixture_env: dict, trace: bool,
               deadline: float, mode: str = "full") -> dict:
    """Start one worker process, wait for it, and return its report.
    ``mode`` is ``full``, ``cold-only`` or ``setup-only``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    events = os.path.join(run_dir, "eventlog")
    scratch = os.path.join(run_dir, "scratch")
    for d in (tmp, local, events, scratch, os.path.join(WORK, "oracle"),
              os.path.join(WORK, "reports")):
        os.makedirs(d, exist_ok=True)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={local}",
        # keep the JVM's temp files in the run's scratch area; its perf
        # counters would otherwise go to /tmp/hsperfdata_<user>
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        SPARK_GRAFT_FRAGMENT_CACHE="1",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=ROOT,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        **fixture_env,
    )
    out = os.path.join(run_dir, "report.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(int(trace)),
        "--sf-dir", sf_dir, "--scratch", scratch,
        "--oracle-cache", os.path.join(WORK, "oracle"),
        "--event-log", events, "--out", out, "--t0", repr(time.time()),
        "--spans", os.path.join(WORK, "reports", f"{args.workload}-seed{args.seed}.spans.json"),
    ]
    if mode != "full":
        cmd.append(f"--{mode}")
    if getattr(args, "ops", None):
        cmd += ["--ops", ",".join(args.ops)]
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the worker's process group holds the JVM and the Python
            # workers: stop all of them and wait until none is left
            proc.kill()
            proc.wait()
            stop_group(proc.pid)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "worker.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(
            f"worker {'timed out' if rc is None else f'exited {rc}'}\n{tail}")
    with open(out) as f:
        return json.load(f)


def main() -> None:
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated launcher still stops its worker (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    for rel in REQUIRED:
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} is missing: run from a checkout of the repository")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "workloads.json")) as f:
            workloads = json.load(f)["workloads"]
    except (OSError, ValueError) as exc:
        fail(f"cannot read the benchmark definition: {exc}")
    if args.workload == "all":
        # every workload in turn, each in its own fresh launcher process
        rcs = [
            subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                            "--seed", str(args.seed), "--seconds", str(args.seconds),
                            "--trace", str(args.trace)]).returncode
            for w in workloads
        ]
        sys.exit(max(rcs))
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; expected one of {sorted(workloads)}")

    sys.path.insert(0, HERE)
    from fixture import Fixture

    sf_dir = SF_DIR
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    setups = []
    try:
        with Fixture(args.seed) as fx:
            if args.trace:
                # the untraced baseline of trace.overhead_frac: the same
                # cold passes, same seed, same checkout, in this invocation
                ref = run_worker(args, sf_dir, run_dir + "-ref", fx.env(), False, deadline,
                                 "cold-only")
                setups.append(ref["setup_s"])
            else:
                for k in range(SETUP_PROBES):
                    probe = run_worker(args, sf_dir, f"{run_dir}-setup{k}", fx.env(), False,
                                       deadline, "setup-only")
                    setups.append(probe["setup_s"])
            rep = run_worker(args, sf_dir, run_dir, fx.env(), bool(args.trace), deadline)
        setups.append(rep["setup_s"])
        scratch_files, scratch_bytes = dir_stats(os.path.join(run_dir, "scratch"))
    except (RuntimeError, subprocess.SubprocessError, OSError) as exc:
        print(f"perfbench: run failed: {exc}", file=sys.stderr)
        sys.exit(1)
    finally:
        for d in [run_dir, run_dir + "-ref", *(f"{run_dir}-setup{k}" for k in range(SETUP_PROBES))]:
            shutil.rmtree(d, ignore_errors=True)
    rep["e2e"]["setup_s"].update(value=statistics.median(setups), samples=len(setups))
    rep["setup_samples"] = setups

    steal, total = (end - start for end, start in zip(cpu_ticks(), ticks_start))
    rep["settings"] = {
        "SPARK_GRAFT_CPUS": os.cpu_count(), "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_GRAFT_FRAGMENT_CACHE": "1", "data": os.path.relpath(SF_DIR, ROOT),
        "loadavg_1m_start": load_start, "loadavg_1m_end": os.getloadavg()[0],
        "cpu_steal_frac": steal / max(1, total),
        "scratch_files": scratch_files, "scratch_mb": scratch_bytes / 2**20,
        "wall_s": time.time() - t_start,
    }
    if args.trace:
        rep["layers"]["trace.overhead_frac"] = {
            "value": rep["cold_pass_s"] / ref["cold_pass_s"] - 1, "unit": "ratio"}
        metrics = rep["layers"]
        wanted = bench["per_layer"]
    else:
        metrics = rep["e2e"]
        wanted = bench["end_to_end"]
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "reports", name), "w") as f:
        json.dump(rep, f, indent=1)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{rep['attempted']} attempted, {rep['failed']} failed"
          + (f" ({', '.join(rep['failed_ops'])})" if rep["failed_ops"] else ""))
    print("  settings " + " ".join(f"{k}={v:.3g}" if isinstance(v, float) else f"{k}={v}"
                                   for k, v in rep["settings"].items()))
    for k, v in rep["e2e"].items():
        print(f"  {k:20s} {v['value']:12.4f} {v['unit']:7s} n={v['samples']}")
    if args.trace:
        for k, v in rep["layers"].items():
            print(f"  {k:32s} {v['value']:12.4f} {v['unit']}")
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    print(json.dumps({
        "correct": not rep["failed_ops"],
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
