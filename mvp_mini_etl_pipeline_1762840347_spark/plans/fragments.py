"""Opt-in per-process FRAGMENT CACHE shared by the plan modules.

Several registered queries derive the same full-corpus artifact in
one batch window: the doc-keyed shingle store, the LSH band
signatures and candidate pairs built on it (the ~9 dedup/graph/split
queries), the curation disposition frame (corpus_disposition,
training_data_release), the simhash fingerprints, the co-purchase
edges and release_delta_incremental's daily pass.  Each artifact has
ONE derivation, and ``cached_frame`` is the only place that decides
what happens to it: with ``SPARK_GRAFT_FRAGMENT_CACHE=1`` (the
benchmark's mode) the built frame is localCheckpointed and kept, so
later consumers in the window read materialized rows; with the
switch off the same derivation is returned lazily and each query's
plan composes it inline (the mode of PLAN_AUDIT.md, the tests and
the driver).  The switch chooses materialization, never the
algorithm: no consumer branches on it (tests/test_one_derivation.py).
Value parity served == composed is pinned in tests/test_round9_ops.py
and tests/test_round10_ops.py.

Keys are scoped to the live SparkContext via ``applicationId`` --
NOT ``id(spark)``, which CPython reuses after GC, so a new session
allocated at a stopped session's address could be served checkpointed
frames bound to the dead context (ADVICE r9).

``fan_out`` is the one concurrent runner the plans use to overlap
independent fragment fills and staging writes.

``HITS``/``MISSES`` count cache decisions so bench.py can record, per
query, whether the committed timing was served from a cached fragment
(the artifact-honesty flag ADVICE r9 asked for).
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

_FRAGMENT_CACHE: dict[tuple, object] = {}

# fan_out's pool size: overlaps short jobs without flooding the scheduler
_FAN_OUT_WORKERS = 4

T = TypeVar("T")

# Monotone counters, incremented on every cache decision (hit/miss)
# regardless of which fragment it was.  bench.py snapshots HITS around
# each timed query to tag cache-served minima in the artifact.
_STATS = {"hits": 0, "misses": 0}


def fragment_cache_on() -> bool:
    return os.environ.get("SPARK_GRAFT_FRAGMENT_CACHE") == "1"


def hit_count() -> int:
    return _STATS["hits"]


def note_hit() -> None:
    """Record a cache hit made outside cached_frame (dict-valued
    fragments like the curation-state memo)."""
    _STATS["hits"] += 1


def note_miss() -> None:
    _STATS["misses"] += 1


def cache_key(spark: SparkSession, *parts) -> tuple:
    """Cache key scoped to the live SparkContext (applicationId is
    unique per context; object ids are not)."""
    return (spark.sparkContext.applicationId, *parts)


def clear() -> None:
    """Drop every cached fragment and unpersist the checkpointed
    blocks (ADVICE r11: the cache otherwise grows resident checkpoint
    blocks for the life of the session).  Long-lived sessions that
    cross batch windows should call this at the window boundary;
    bench.py deliberately does NOT call it between passes -- the warm
    pass measuring amortized fragment reads is the declared
    methodology, and the artifact flags every cache-served minimum.

    A localCheckpointed frame's blocks belong to its underlying RDD,
    not the SQL CacheManager, so the release mechanism is reference
    drop: clearing the dict releases the last py4j reference, the JVM
    RDD becomes unreachable, and Spark's ContextCleaner unpersists the
    blocks asynchronously.  Resident footprint for reference (sf0.1,
    all fragments warm): the corpus-wide fragments are compact
    columnar state, ~60 MB of storage-memory blocks total across ~20
    fragments (the doc-shingle store dominates); the always-on
    dict-valued state memos (curation stores) live on DISK as parquet
    under the scratch dir, not in executor storage."""
    _FRAGMENT_CACHE.clear()


def cached_frame(
    spark: SparkSession,
    parts: tuple,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Serve the fragment at ``parts`` from the cache, building (and
    localCheckpointing) it on miss.  With the cache OFF the lazy frame
    is returned as built -- the standalone plan, unchanged.

    ALWAYS-ON input-state memos (e.g. "yesterday's committed curation
    stores exist" -- dict-valued, not a single frame) do not fit this
    helper; they go through quality._memo_state, the one other writer
    of _FRAGMENT_CACHE.
    """
    if not fragment_cache_on():
        return build()
    key = cache_key(spark, *parts)
    hit = _FRAGMENT_CACHE.get(key)
    if hit is not None:
        _STATS["hits"] += 1
        return hit  # type: ignore[return-value]
    _STATS["misses"] += 1
    out = build().localCheckpoint()
    _FRAGMENT_CACHE[key] = out
    return out


def fan_out(calls: dict[str, Callable[[], T]]) -> dict[str, T]:
    """Run independent driver-side actions (fragment fills, staged
    table writes) concurrently, so one short job's tail does not idle
    the cores while the driver starts the next; return results by name
    in ``calls`` order.  Every member finishes before this returns or
    raises; the first failure in ``calls`` order is re-raised with its
    own type, noted with the member's name.  Members inherit the
    caller's local properties (job group, scheduler pool) and job
    tags, so their jobs attribute to -- and cancel with -- the caller's
    group.  Members must use distinct cache keys and directories:
    nothing here serializes them."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    session = SparkSession.getActiveSession()
    if session is not None:
        inherit = inheritable_thread_target(session)
        calls = {name: inherit(call) for name, call in calls.items()}
    with ThreadPoolExecutor(max_workers=_FAN_OUT_WORKERS) as pool:
        futs = {name: pool.submit(call) for name, call in calls.items()}
    for name, fut in futs.items():
        exc = fut.exception()
        if exc is not None:
            exc.add_note(f"fan_out member {name!r}")
            raise exc
    return {name: fut.result() for name, fut in futs.items()}
