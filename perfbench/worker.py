"""One benchmark run in a fresh driver process (started by ``run.py``).

Sets the session up, then runs the workload's timed ops in a closed
loop with one client -- each op starts when the previous one ends:
one cold pass (empty fragment cache, fresh scratch), then the
workload's fixed number of warm passes (``warm_passes`` in
``workloads.json``).  The op order is permuted by the seed on every
pass, because fragment fills and first-touch codegen are billed to
whichever consumer runs first.  Every op's output is then checked
once, outside the timed passes.  ``--setup-only`` stops after the
set-up and reports its time.

With ``--trace 1`` the layers' public functions are wrapped
(``tracing.install_layers``) and the launcher has turned Spark's event
log on; the per-layer map is computed after the session stops.

Writes its report as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import socket
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (os.path.join(ROOT, "tools"), ROOT, HERE):
    sys.path.insert(0, p)

from ops import Context, land_events, build  # noqa: E402
from tracing import (  # noqa: E402
    MB, Tracer, attribute, driver_gap, fill_seconds, garbage_bytes, install_layers,
    read_event_log, self_times,
)

LANDED_FILES = 2
_LOOPBACK = {"localhost", "127.0.0.1", "::1", "0.0.0.0"}


def guard_sockets() -> None:
    """Refuse any name lookup or connection that would leave the host,
    so a missing fixture shows as a failed extract, never as traffic."""
    real_getaddrinfo, real_connect = socket.getaddrinfo, socket.socket.connect

    def getaddrinfo(host, *args, **kwargs):
        if host not in _LOOPBACK and host is not None:
            raise OSError(f"perfbench: lookup of non-loopback host {host!r} refused")
        return real_getaddrinfo(host, *args, **kwargs)

    def connect(self, address):
        if self.family in (socket.AF_INET, socket.AF_INET6) and address[0] not in _LOOPBACK:
            raise OSError(f"perfbench: connection to {address[0]!r} refused")
        return real_connect(self, address)

    socket.getaddrinfo = getaddrinfo
    socket.socket.connect = connect


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pids() -> list[int]:
    """Direct children of this process that run java (the driver JVM)."""
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        if ppid == me and comm == "java":
            out.append(int(d))
    return out


def group_cpu_s() -> float:
    """CPU seconds (user plus system) used so far by this process group:
    the driver, its JVM and the Python workers, with their reaped
    children.  Time the host steals from the group's vCPUs is not in
    it, unlike the wall time."""
    pgrp = os.getpgrp()
    ticks = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[2]) == pgrp:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def quantile(values: list[float], q: float) -> float:
    """Percentile by linear interpolation between the closest ranks
    (numpy's default): with a handful of ops, a nearest-rank percentile
    jumps from one op to the next as their latencies cross."""
    s = sorted(values)
    x = q * (len(s) - 1)
    i = int(x)
    return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (x - i)


def run_passes(ops, ctx, tracer, seed: int, workload: str, warm_passes: int,
               seconds: float):
    """One cold pass, then ``warm_passes`` warm passes.

    The cold pass is the first of a fresh process: empty fragment cache
    and memos, first-touch codegen included.  Ops write under fresh
    per-pass and per-invocation directories, so no pass finds
    another's scratch.  The measured work is fixed, so two builds of
    the program are compared on the same work (a time-bounded loop
    would give a faster build more passes, and later passes run faster
    as the JIT settles).  As a guard against a stalled machine, no warm
    pass after the first starts once ``2 * seconds`` of measuring have
    elapsed."""
    rng = random.Random(f"{workload}:{seed}")
    sc = ctx.spark.sparkContext
    passes, errors = [], {}
    t_start = time.perf_counter()

    def another_pass() -> bool:
        warm_done = len(passes) - 1
        if warm_done < min(1, warm_passes):
            return True  # the cold pass and the first warm pass always run
        return warm_done < warm_passes and time.perf_counter() - t_start < 2 * seconds

    while another_pass():
        p = len(passes)
        cold = p == 0
        order = list(ops)
        rng.shuffle(order)
        cpu0 = group_cpu_s()
        t0 = time.perf_counter()
        walls = {}
        for op in order:
            tracer.op = f"{op.name}#{p}"
            if tracer.enabled:
                sc.setJobGroup(op.name, tracer.op)
            with tracer.span("op", op_root=True) as rec:
                if rec is not None:
                    rec.update(op_name=op.name, kind=op.kind, cold=cold, **{"pass": p})
                try:
                    b, e = op.run(ctx, p)
                    walls[op.name] = {"build": b, "exec": e, "wall": b + e}
                except Exception:
                    errors.setdefault(op.name, traceback.format_exc(limit=3).strip().splitlines()[-1])
                    walls[op.name] = None
        tracer.op = None
        wall = time.perf_counter() - t0
        passes.append({"cold": cold, "wall": wall, "cpu": group_cpu_s() - cpu0, "ops": walls,
                       "order": [op.name for op in order]})
    return passes, errors


def layer_of(span: dict) -> str:
    """``plans.build`` and ``plans.exec`` stay apart; other spans go to
    their layer (the name's first part)."""
    name = span["name"]
    return name if name.startswith("plans.") else name.split(".")[0]


def layer_metrics(tracer, log, passes, result_rows, cores, roots, setup) -> tuple[dict, list]:
    """Per-layer totals over the timed passes (``.warm`` metrics per
    warm pass), and one row per op run splitting its wall across the
    layers."""
    spans = tracer.spans
    children: dict[int, list] = {}
    by_op: dict[str, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
        by_op.setdefault(s["op"], []).append(s)
    op_spans = [dict(s, op_key=s["op"]) for s in spans if s["name"] == "op"]
    per_op = attribute(log, op_spans)
    stage_iv = [(st["start"], st["end"]) for st in log["stages"]]
    c = tracer.counters
    rows, tot = [], {"build": [0.0, 0.0], "exec": [0.0, 0.0], "gap": 0.0, "exec_all": 0.0}
    n_warm = max(1, len(passes) - 1)
    for s in op_spans:
        warm = not s["cold"]
        layer_self = self_times(s, by_op[s["op"]], layer_of)
        sp = per_op.get(s["op"], {})
        exec_spans = [k for k in children.get(s["id"], []) if k["name"] in ("plans.exec",)]
        exec_wall = sum(k["end"] - k["start"] for k in exec_spans)
        if s["kind"] != "query":  # pipelines and streams: the whole op executes
            exec_spans, exec_wall = [s], s["end"] - s["start"]
        gap = sum(driver_gap(k, stage_iv) for k in exec_spans)
        tot["gap"] += gap
        tot["exec_all"] += exec_wall
        build_s = sum(k["end"] - k["start"] for k in children.get(s["id"], [])
                      if k["name"] == "plans.build")
        tot["build"][warm] += build_s
        tot["exec"][warm] += exec_wall if s["kind"] == "query" else 0.0
        rows.append({
            "op": s["op_name"], "pass": s["pass"], "cold": s["cold"], "wall_s": round(s["end"] - s["start"], 4),
            "build_s": round(build_s, 4), "exec_s": round(exec_wall, 4),
            "self_s": {k: round(v, 4) for k, v in sorted(layer_self.items())},
            "spark": {
                "jobs": int(sp.get("jobs", 0)), "stages": int(sp.get("stages", 0)),
                "tasks": int(sp.get("tasks", 0)),
                "single_task_stages": int(sp.get("single_task_stages", 0)),
                "task_run_s": round(sp.get("run_ms", 0) / 1000, 4),
                "driver_gap_s": round(gap, 4),
                "shuffle_mb": round((sp.get("shuffle_read", 0) + sp.get("shuffle_write", 0)) / MB, 4),
                "job_group_mismatches": int(sp.get("group_mismatch", 0)),
            },
        })
    agg = {k: sum(o.get(k, 0) for o in per_op.values()) for k in (
        "jobs", "stages", "tasks", "single_task_stages", "run_ms", "deser_ms", "gc_ms",
        "shuffle_read", "shuffle_write", "input_bytes", "input_rows", "py_sent", "py_returned")}
    span_s = lambda name: sum(s["end"] - s["start"] for s in spans if s["name"] == name)  # noqa: E731
    fills, serves = c.get("fragments.fills", 0), c.get("fragments.serves", 0)
    res_rows = sum(result_rows.get(r["op"], 0) for r in rows)
    m = {
        "session.start_s": (setup["start_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "plans.build_s.cold": (tot["build"][0], "s"),
        "plans.build_s.warm": (tot["build"][1] / n_warm, "s"),
        "plans.exec_s.cold": (tot["exec"][0], "s"),
        "plans.exec_s.warm": (tot["exec"][1] / n_warm, "s"),
        "fragments.fills": (fills, "count"),
        "fragments.serves": (serves, "count"),
        "fragments.hit_ratio": (serves / (fills + serves) if fills + serves else 0.0, "ratio"),
        "fragments.fill_s": (fill_seconds(spans), "s"),
        "fragments.memo_hits": (c.get("fragments.memo_hits", 0), "count"),
        "fragments.memo_misses": (c.get("fragments.memo_misses", 0), "count"),
        "spark.jobs": (agg["jobs"], "count"),
        "spark.stages": (agg["stages"], "count"),
        "spark.tasks": (agg["tasks"], "count"),
        "spark.single_task_stages": (agg["single_task_stages"], "count"),
        "spark.task_run_s": (agg["run_ms"] / 1000, "s"),
        "spark.task_deser_s": (agg["deser_ms"] / 1000, "s"),
        "spark.gc_s": (agg["gc_ms"] / 1000, "s"),
        "spark.shuffle_write_mb": (agg["shuffle_write"] / MB, "MB"),
        "spark.shuffle_read_mb": (agg["shuffle_read"] / MB, "MB"),
        "spark.driver_gap_s": (tot["gap"], "s"),
        "spark.core_util": (agg["run_ms"] / 1000 / (tot["exec_all"] * cores) if tot["exec_all"] else 0.0, "ratio"),
        "io.input_mb": (agg["input_bytes"] / MB, "MB"),
        "io.input_rows": (agg["input_rows"], "count"),
        "io.rows_read_per_result_row": (agg["input_rows"] / res_rows if res_rows else 0.0, "ratio"),
        "python.sent_mb": (agg["py_sent"] / MB, "MB"),
        "python.returned_mb": (agg["py_returned"] / MB, "MB"),
        "selection.rank_select_calls": (c.get("selection.rank_select_calls", 0), "count"),
        "selection.rank_select_s": (span_s("selection.rank_select"), "s"),
        "table_format.commits": (c.get("table_format.commits", 0), "count"),
        "table_format.commit_s": (span_s("table_format.commit"), "s"),
        "table_format.bytes_written_mb": (c.get("table_format.bytes_written", 0) / MB, "MB"),
        "table_format.garbage_mb": (garbage_bytes(roots) / MB, "MB"),
        "streaming.batches": (c.get("streaming.batches", 0), "count"),
        "streaming.batch_s": (c.get("streaming.batch_s", 0.0), "s"),
        "streaming.merge_s": (span_s("streaming.merge"), "s"),
        "streaming.replay_noops": (c.get("streaming.replay_noops", 0), "count"),
        "pipeline.extract_s": (span_s("pipeline.extract"), "s"),
        "pipeline.transform_s": (span_s("pipeline.transform"), "s"),
        "pipeline.load_s": (span_s("pipeline.load"), "s"),
    }
    return m, rows


def finish(path: str, report: dict) -> None:
    """Write the report and exit at once, leaving the session to the
    launcher, which kills this process group and waits for it: a
    graceful ``spark.stop()`` would add seconds of untimed shutdown to
    every run."""
    with open(path, "w") as f:
        json.dump(report, f)
    sys.stdout.flush()
    os._exit(0)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cold-only", action="store_true", help="run the cold pass only")
    ap.add_argument("--setup-only", action="store_true", help="set up, report setup_s and exit")
    ap.add_argument("--ops", default=None, help="comma-separated queries replacing the timed set")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--oracle-cache", required=True)
    ap.add_argument("--event-log", default=None)
    ap.add_argument("--spans", default=None, help="where the traced run writes its spans")
    ap.add_argument("--t0", type=float, required=True, help="epoch time the process was spawned")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    guard_sockets()

    from probe import setup
    import fixture

    spark, start_s, warmup_s = setup(a.sf_dir)
    setup_s = time.time() - a.t0
    report = {"setup_s": setup_s, "session": {"start_s": start_s, "warmup_s": warmup_s}}
    if a.setup_only:
        finish(a.out, report)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"][a.workload]
    if a.ops:
        spec = {"timed": a.ops.split(","), "warm_passes": 1}
    ops = build(spec)
    tracer = Tracer(bool(a.trace))
    ctx = Context(spark=spark, sf_dir=a.sf_dir, scratch=a.scratch, tracer=tracer, oracle_cache=a.oracle_cache,
                  expected=fixture.expected(a.seed))
    if any(op.kind == "stream" for op in ops):
        ctx.landing = os.path.join(a.scratch, "landing")
        ctx.landed_rows = land_events(a.sf_dir, ctx.landing, a.seed, LANDED_FILES)
    roots = install_layers(tracer) if a.trace else None

    warm_passes = 0 if a.cold_only else spec["warm_passes"]
    passes, errors = run_passes(ops, ctx, tracer, a.seed, a.workload, warm_passes, a.seconds)
    tracer.unwrap()
    peak_rss_mb = (vm_hwm_kb("self") + sum(vm_hwm_kb(p) for p in jvm_pids())) / 1024
    warm = passes[1:]
    report.update(cold_pass_s=passes[0]["wall"], passes=passes, errors=errors)
    if a.cold_only:
        finish(a.out, report)

    checks, result_rows = {}, {}
    for op in ops:
        try:
            checks[op.name], result_rows[op.name] = op.check(ctx)
        except Exception:
            checks[op.name] = "ERROR " + traceback.format_exc(limit=3).strip().splitlines()[-1]
    failed_ops = sorted(set(errors) | {n for n, v in checks.items() if not v.startswith("OK")})

    # each op's warm latency is its median over the warm passes, so the
    # percentiles over ops do not jump with the number of passes a run
    # happened to fit
    warm_runs = [r["wall"] for p in warm for r in p["ops"].values() if r is not None]
    per_op = [
        statistics.median(p["ops"][op.name]["wall"] for p in warm)
        for op in ops if all(p["ops"][op.name] is not None for p in warm)
    ]
    execs = [r for p in passes for r in p["ops"].values()]
    attempted = len(execs) + len(checks)
    failed = sum(1 for p in passes for n in p["ops"] if n in failed_ops) + sum(
        1 for n in checks if n in failed_ops)
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "cold_pass_s": (report["cold_pass_s"], "s", 1),
        "warm_pass_s": (statistics.median(p["wall"] for p in warm), "s", len(warm)),
        "warm_pass_cpu_s": (statistics.median(p["cpu"] for p in warm), "s", len(warm)),
        "op_p50_s": (quantile(per_op, 0.5), "s", len(warm_runs)),
        "op_p90_s": (quantile(per_op, 0.9), "s", len(warm_runs)),
        "failed_frac": (failed / attempted, "ratio", attempted),
        "peak_rss_mb": (peak_rss_mb, "MB", 1),
    }
    pipe = [op for op in ops if op.kind == "pipeline"]
    if pipe:
        e2e["pipeline_run_s"] = (statistics.median(pipe[0].durations), "s", len(pipe[0].durations))
    streams = [op for op in ops if op.kind == "stream"]
    if streams:
        e2e["stream_rows_per_s"] = (
            sum(s.rows for s in streams) / sum(s.wall for s in streams), "rows/s",
            len(streams) * len(passes))
    report.update(e2e={k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in e2e.items()},
                  checks=checks, failed_ops=failed_ops, attempted=attempted, failed=failed,
                  result_rows=result_rows)

    if a.trace:
        c = tracer.counters
        pipe_fallbacks = pipe[0].fallback_used if pipe else 0
        spark.stop()  # flushes and closes the event log
        layers, rows = layer_metrics(
            tracer, read_event_log(a.event_log), passes, result_rows,
            int(os.environ["SPARK_GRAFT_CPUS"]), roots,
            {"start_s": start_s, "warmup_s": warmup_s})
        layers["pipeline.fallback_used"] = (pipe_fallbacks, "count")
        report["layers"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        report["fragments_by_pass"] = [
            {"cold": p["cold"],
             "fills": sum(1 for s in tracer.spans if s.get("hit") is False and (s["op"] or "").endswith(f"#{k}")),
             "serves": sum(1 for s in tracer.spans if s.get("hit") and (s["op"] or "").endswith(f"#{k}"))}
            for k, p in enumerate(passes)
        ]
        report["op_rows"] = rows
        report["counters"] = dict(c)
        tracer.dump(a.spans)
    finish(a.out, report)


if __name__ == "__main__":
    main()
