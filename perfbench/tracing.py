"""Spans, counters and the Spark event log for the traced run.

The traced run wraps calls into each layer's public functions from
here -- the package is not edited -- and records one span per call:
name, start, end, parent span and op id, kept in memory and written
out when the run ends.  Spark's own work comes from its event log
(enabled by the launcher, uncompressed), parsed with the stdlib: every
job is attributed to the op whose span encloses the job's submission
time, because ops run one at a time (jobs started from the plans'
thread pools do not inherit the job group, so the group is only a
cross-check).

A layer's self time is its span's duration minus the part of that
interval covered by its child spans; children that run concurrently on
a thread pool share the instants they overlap (``self_times``).
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """In-memory span and counter store.  ``enabled=False`` makes
    ``span`` a plain no-op context manager, so untimed bookkeeping
    costs nothing in the untraced runs."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op: str | None = None  # id of the op being run
        self._op_stack: list[int] = []  # open spans of the thread running the op
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    @contextmanager
    def span(self, name: str, op_root: bool = False):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        if op_root:
            self._op_stack = stack
        # a span opened on a pool or callback thread has no open span of
        # its own thread; it was caused by the innermost open span of the
        # thread running the op, which waits for it
        parent = stack[-1] if stack else (self._op_stack[-1] if self._op_stack else None)
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "op": self.op,
                   "start": time.time(), "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += n

    def wrap(self, owner, attr: str, span_name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per
        call; ``after(rec, args, result)`` may add counters.  Callers
        that look the name up at call time see the wrapper."""
        inner = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(span_name) as rec:
                result = inner(*args, **kwargs)
            if after is not None:
                after(rec, args, result)
            return result

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, inner))

    def unwrap(self) -> None:
        for owner, attr, inner in reversed(self._undo):
            setattr(owner, attr, inner)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(root: dict, spans: list[dict], layer_of) -> dict[str, float]:
    """Split ``root``'s wall across layers by self time.

    At each instant the time goes to the open spans that have no open
    child: with one thread that is the innermost span, so a layer's
    share is its spans' durations minus what their children cover; when
    a span's children run concurrently on a pool, the instant is split
    evenly between them.  The shares sum to the root's wall."""
    lo, hi = root["start"], root["end"]
    inside = [s for s in spans if s["end"] > lo and s["start"] < hi]
    cuts = sorted({lo, hi, *(max(lo, s["start"]) for s in inside),
                   *(min(hi, s["end"]) for s in inside)})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        open_ = [s for s in inside if s["start"] <= a and s["end"] >= b]
        parents = {s["parent"] for s in open_}
        leaves = [s for s in open_ if s["id"] not in parents] or [root]
        for s in leaves:
            out[layer_of(s)] = out.get(layer_of(s), 0.0) + (b - a) / len(leaves)
    return out


def fill_seconds(spans: list[dict]) -> float:
    """Seconds spent filling fragments: the union of the fill spans'
    intervals, so a fill nested in another's build, or running beside
    it on a pool thread, is not counted twice."""
    return _union([(s["start"], s["end"]) for s in spans
                   if s["name"] == "fragments.cached_frame" and s["hit"] is False])


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, files in os.walk(path)
        for n in files
    )


def install_layers(tracer: Tracer) -> dict:
    """Wrap the public functions of every traced layer.  Returns the
    live state the metrics need after the run (snapshot roots)."""
    from mvp_mini_etl_pipeline_1762840347_spark.operators import selection, table_format
    from mvp_mini_etl_pipeline_1762840347_spark.pipeline import runner
    from mvp_mini_etl_pipeline_1762840347_spark.plans import fragments, quality
    from mvp_mini_etl_pipeline_1762840347_spark.streaming import jobs

    roots: dict[str, set[str]] = {"table": set(), "set": set()}

    inner_cached = fragments.cached_frame

    def cached_frame(spark, parts, build):
        if not fragments.fragment_cache_on():
            return inner_cached(spark, parts, build)
        # hit or fill is decided by key membership before the call: the
        # hit counter also moves for fragments nested inside this one's
        # build and for lookups made meanwhile on the plans' thread pools
        hit = fragments.cache_key(spark, *parts) in fragments._FRAGMENT_CACHE
        with tracer.span("fragments.cached_frame") as rec:
            rec["hit"] = hit
            result = inner_cached(spark, parts, build)
        tracer.count("fragments.serves" if hit else "fragments.fills")
        return result

    fragments.cached_frame = cached_frame
    tracer._undo.append((fragments, "cached_frame", inner_cached))

    tracer.wrap(quality, "_note_hit", "fragments.memo_hit",
                lambda r, a, x: tracer.count("fragments.memo_hits"))
    tracer.wrap(quality, "_note_miss", "fragments.memo_miss",
                lambda r, a, x: tracer.count("fragments.memo_misses"))
    tracer.wrap(selection, "rank_select", "selection.rank_select",
                lambda r, a, x: tracer.count("selection.rank_select_calls"))

    def commit_after(rec, args, result):
        table = args[0]
        roots["table"].add(table.root)
        tracer.count("table_format.commits")
        tracer.count("table_format.bytes_written",
                     dir_bytes(os.path.join(table.root, result)))

    def stage_after(rec, args, result):
        tset, name = args[0], args[1]
        roots["set"].add(tset.root)
        tracer.count("table_format.bytes_written",
                     dir_bytes(os.path.join(tset.root, name, tset._staged[name])))

    def staged_commit_after(rec, args, result):
        roots["set"].add(args[0].root)
        tracer.count("table_format.commits")

    tracer.wrap(table_format.SnapshotTable, "commit", "table_format.commit", commit_after)
    tracer.wrap(table_format.SnapshotSet, "stage", "table_format.stage", stage_after)
    tracer.wrap(table_format.SnapshotSet, "commit_staged", "table_format.commit",
                staged_commit_after)

    def merge_after(rec, args, applied):
        tracer.count("streaming.batches")
        if not applied:
            tracer.count("streaming.replay_noops")

    tracer.wrap(jobs, "hourly_rollup_merge_step", "streaming.merge", merge_after)
    tracer.wrap(jobs, "snapshot_merge_step", "streaming.merge", merge_after)

    tracer.wrap(runner, "load_users", "pipeline.extract")
    tracer.wrap(runner, "build_metrics", "pipeline.transform")
    tracer.wrap(runner, "write_csv", "pipeline.load")
    return roots


def garbage_bytes(roots: dict) -> int:
    """Bytes of landed snapshot directories no live pointer references."""
    from mvp_mini_etl_pipeline_1762840347_spark.operators import table_format

    total = 0
    for root in roots["set"]:
        if not os.path.isdir(root):
            continue
        tset = table_format.SnapshotSet.__new__(table_format.SnapshotSet)
        tset.root = root
        live = (tset.manifest() or {}).get("tables", {})
        for name in os.listdir(root):
            tdir = os.path.join(root, name)
            if not os.path.isdir(tdir):
                continue
            for snap in os.listdir(tdir):
                if snap.startswith("snapshot-") and live.get(name) != snap:
                    total += dir_bytes(os.path.join(tdir, snap))
    for root in roots["table"]:
        if not os.path.isdir(root) or root in roots["set"]:
            continue
        with open(os.path.join(root, "_CURRENT")) as f:
            cur = f.read().strip()
        for snap in os.listdir(root):
            if snap.startswith("snapshot-") and snap != cur:
                total += dir_bytes(os.path.join(root, snap))
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task totals from the one application log in
    ``log_dir``.  Times are epoch seconds."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    stage_job: dict[int, int] = {}
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000,
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" not in info:
                    continue  # skipped stage: its output was reused
                key = (info["Stage ID"], info["Stage Attempt ID"])
                st = stages.setdefault(key, _new_stage())
                st.update(
                    job=stage_job.get(info["Stage ID"]),
                    tasks=info["Number of Tasks"],
                    start=info["Submission Time"] / 1000,
                    end=info.get("Completion Time", info["Submission Time"]) / 1000,
                )
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                st = stages.setdefault(key, _new_stage())
                m = ev.get("Task Metrics") or {}
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["deser_ms"] += m.get("Executor Deserialize Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                im = m.get("Input Metrics") or {}
                st["input_bytes"] += im.get("Bytes Read", 0)
                st["input_rows"] += im.get("Records Read", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == PY_SENT:
                        st["py_sent"] += int(acc.get("Update", 0))
                    elif acc.get("Name") == PY_RETURNED:
                        st["py_returned"] += int(acc.get("Update", 0))
    return {"jobs": jobs, "stages": [s for s in stages.values() if s["start"] is not None]}


def _new_stage() -> dict:
    return {
        "job": None, "tasks": 0, "start": None, "end": None, "run_ms": 0,
        "deser_ms": 0, "gc_ms": 0, "shuffle_read": 0, "shuffle_write": 0,
        "input_bytes": 0, "input_rows": 0, "py_sent": 0, "py_returned": 0,
    }


def attribute(log: dict, op_spans: list[dict]) -> dict[str, dict]:
    """Per-op Spark totals: each job goes to the op span enclosing its
    submission time; a stage goes with its job."""
    spans = sorted(op_spans, key=lambda s: s["start"])
    job_op: dict[int, str] = {}
    for jid, job in log["jobs"].items():
        for s in spans:
            if s["start"] <= job["submit"] <= s["end"]:
                job_op[jid] = s["op_key"]
                break
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for jid, op in job_op.items():
        out[op]["jobs"] += 1
        grp = log["jobs"][jid]["group"]
        if grp is not None and grp != op.split("#", 1)[0]:
            out[op]["group_mismatch"] += 1
    for st in log["stages"]:
        op = job_op.get(st["job"])
        if op is None:
            continue
        o = out[op]
        o["stages"] += 1
        o["tasks"] += st["tasks"]
        o["single_task_stages"] += st["tasks"] == 1
        for k in ("run_ms", "deser_ms", "gc_ms", "shuffle_read", "shuffle_write",
                  "input_bytes", "input_rows", "py_sent", "py_returned"):
            o[k] += st[k]
        o.setdefault("intervals", [])
        o["intervals"].append((st["start"], st["end"]))
    return out


def driver_gap(exec_span: dict, intervals: list[tuple[float, float]]) -> float:
    """Execution wall time not covered by any running stage."""
    lo, hi = exec_span["start"], exec_span["end"]
    return (hi - lo) - _union(_clip(intervals, lo, hi))
