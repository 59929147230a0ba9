"""Crash matrix for every commit protocol in the package.

Each twin below makes one small commit on top of an existing one.  A
fault injector counts the filesystem steps of that commit -- parquet
writes, renames, replaces and directory removals -- and kills the
k-th, for every k.  A killed parquet write leaves a torn part file
and a killed removal leaves a half-removed tree, as a process that
dies mid-step would.  After each crash the test asserts:

(a) once recovered, the visible data and its marker belong to the
    same commit, old or new (for ResultCache: the old inputs get the
    old result, the new inputs the new one);
(b) recover-then-replay equals the no-crash result.

The frames are a few rows each, so the whole matrix runs in about
90 s on 4 cores.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from mvp_mini_etl_pipeline_1762840347_spark.operators.result_cache import (
    ResultCache,
)
from mvp_mini_etl_pipeline_1762840347_spark.operators.scale import (
    compact_small_files,
)
from mvp_mini_etl_pipeline_1762840347_spark.operators.table_format import (
    SnapshotSet,
    SnapshotTable,
)
from mvp_mini_etl_pipeline_1762840347_spark.streaming import jobs

SCHEMA = "user_id int, value double"
OLD_ROWS = [(1, 1.0), (2, 2.0), (2, 3.0)]
NEW_ROWS = [(1, 4.0), (3, 5.0)]


class Crash(Exception):
    """The injected failure: the process dies at this step."""


def _tear(args, name):
    """Leave what a process killed inside this step would leave."""
    if name == "parquet":
        path = args[1]
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "part-00000-torn.parquet"), "wb") as f:
            f.write(b"PAR1 torn")
    elif name == "rmtree":
        for d, _, files in os.walk(args[0]):
            if files:
                os.remove(os.path.join(d, files[0]))
                return


@contextmanager
def crash_at(k):
    """Fail the k-th filesystem step (1-based) inside the block; k=0
    never fails.  Yields the step log, so a k=0 run counts the steps."""
    log: list[str] = []
    real = {
        "parquet": (DataFrameWriter, "parquet"),
        "rename": (os, "rename"),
        "replace": (os, "replace"),
        "rmtree": (shutil, "rmtree"),
    }
    saved = {name: getattr(obj, attr) for name, (obj, attr) in real.items()}

    def gate(name):
        fn = saved[name]

        def step(*args, **kwargs):
            log.append(name)
            if len(log) == k:
                _tear(args, name)
                raise Crash(f"step {k} ({name})")
            return fn(*args, **kwargs)

        return step

    for name, (obj, attr) in real.items():
        setattr(obj, attr, gate(name))
    try:
        yield log
    finally:
        for name, (obj, attr) in real.items():
            setattr(obj, attr, saved[name])


def _rows(df):
    return sorted(tuple(round(x, 6) if isinstance(x, float) else x for x in r)
                  for r in df.collect())


# ---------------------------------------------------------------------------
# Twins: each has the commit under test (also its replay), a recovery
# that commits nothing, and the (data, marker) pair a reader then sees.
# ---------------------------------------------------------------------------
class ExactlyOnceMerge:
    """exactly_once_table_merge: additive merge, batch 1 over batch 0."""

    def __init__(self, spark):
        self.spark = spark

    def _merge_fn(self, rows):
        batch = self.spark.createDataFrame(rows, SCHEMA)

        def merge(target):
            rows_ = batch if target is None else target.unionByName(batch)
            return rows_.groupBy("user_id").agg(F.sum("value").alias("value"))

        return merge

    def setup(self, root):
        jobs.exactly_once_table_merge(
            self.spark, os.path.join(root, "t"), 0, self._merge_fn(OLD_ROWS)
        )

    def commit(self, root):
        jobs.exactly_once_table_merge(
            self.spark, os.path.join(root, "t"), 1, self._merge_fn(NEW_ROWS)
        )

    def visible(self, root):
        # replaying the committed batch 0 recovers and commits nothing
        path = os.path.join(root, "t")
        assert not jobs.exactly_once_table_merge(
            self.spark, path, 0, self._merge_fn(OLD_ROWS)
        )
        with open(os.path.join(path, "_BATCH_ID")) as f:
            marker = int(f.read())
        return _rows(self.spark.read.parquet(path)), marker


class Compaction:
    """compact_small_files: four small files become one; no marker."""

    def __init__(self, spark):
        self.spark = spark

    def setup(self, root):
        self.spark.createDataFrame(OLD_ROWS + NEW_ROWS, SCHEMA).repartition(
            4
        ).write.parquet(os.path.join(root, "t"))

    def commit(self, root):
        compact_small_files(self.spark, os.path.join(root, "t"))

    def visible(self, root):
        from mvp_mini_etl_pipeline_1762840347_spark.operators.table_format import (
            _staged_swap,
        )

        path = os.path.join(root, "t")
        assert not _staged_swap(path, lambda current: None)
        n_files = sum(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for f in os.listdir(path)
        )
        return _rows(self.spark.read.parquet(path)), n_files


class CachedResult:
    """ResultCache: the result for new inputs replaces the old one."""

    def __init__(self, spark):
        self.spark = spark
        self.old = spark.createDataFrame(OLD_ROWS, SCHEMA)
        self.new = spark.createDataFrame(OLD_ROWS + NEW_ROWS, SCHEMA)
        self.want = {id(f): _rows(self._compute(f)) for f in (self.old, self.new)}

    @staticmethod
    def _compute(frame):
        return frame.groupBy("user_id").agg(F.count("*").alias("n"))

    def _get(self, root, frame):
        cache = ResultCache(self.spark, root)
        inputs = {"t": (frame, ("user_id", "value"))}
        got = cache.get_or_compute("r", inputs, lambda: self._compute(frame))
        assert _rows(got) == self.want[id(frame)]
        return cache.last_hit

    def setup(self, root):
        self._get(root, self.old)

    def commit(self, root):
        self._get(root, self.new)

    def visible(self, root):
        # the old inputs must get the old result (asserted in _get),
        # and hit only while the old commit is the visible one
        return self._get(root, self.old)


class SnapshotStream:
    """snapshot_merge_step: batch 1 merged over batch 0."""

    def __init__(self, spark):
        self.spark = spark

    def _step(self, root, rows, batch_id):
        table = SnapshotTable(self.spark, os.path.join(root, "t"))
        batch = self.spark.createDataFrame(rows, SCHEMA)
        return jobs.snapshot_merge_step(table, batch, batch_id)

    def setup(self, root):
        assert self._step(root, OLD_ROWS, 0)

    def commit(self, root):
        self._step(root, NEW_ROWS, 1)

    def visible(self, root):
        table = SnapshotTable(self.spark, os.path.join(root, "t"))
        return _rows(table.read()), table.applied_batch()


class StagedSet:
    """SnapshotSet.stage + commit_staged: two members, batch 1 over 0."""

    def __init__(self, spark):
        self.spark = spark

    def _commit(self, root, rows, batch_id):
        tset = SnapshotSet(self.spark, os.path.join(root, "s"))
        applied = tset.applied_batch()
        if applied is not None and batch_id <= applied:
            return  # the caller's replay guard
        df = self.spark.createDataFrame(rows, SCHEMA)
        tset.stage("a", df)
        tset.stage("b", df.withColumn("value", F.col("value") * 10))
        tset.commit_staged(marker=batch_id)

    def setup(self, root):
        self._commit(root, OLD_ROWS, 0)

    def commit(self, root):
        self._commit(root, NEW_ROWS, 1)

    def visible(self, root):
        tset = SnapshotSet(self.spark, os.path.join(root, "s"))  # re-syncs
        marker = tset.applied_batch()
        for name in ("a", "b"):
            member = SnapshotTable(self.spark, os.path.join(tset.root, name))
            assert member.applied_batch() == marker
        return (_rows(tset.read("a")), _rows(tset.read("b"))), marker


TWINS = {
    "exactly_once_table_merge": ExactlyOnceMerge,
    "compact_small_files": Compaction,
    "result_cache": CachedResult,
    "snapshot_merge_step": SnapshotStream,
    "snapshot_set_commit_staged": StagedSet,
}


@pytest.fixture
def tiny_spark(spark):
    """The session with one shuffle partition: the frames are tiny."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("twin_name", list(TWINS))
def test_crash_at_every_step_recovers(tiny_spark, tmp_path, twin_name):
    spark = tiny_spark
    twin = TWINS[twin_name](spark)
    template = str(tmp_path / "template")
    os.makedirs(template)
    twin.setup(template)

    def fresh(tag):
        root = str(tmp_path / tag)
        shutil.copytree(template, root)
        return root

    old = twin.visible(fresh("old"))
    clean = fresh("clean")
    with crash_at(0) as steps:
        twin.commit(clean)
    new = twin.visible(clean)
    assert new != old
    assert steps, "the commit took no filesystem step"

    for k in range(1, len(steps) + 1):
        root = fresh(f"crash{k}")
        with crash_at(k), pytest.raises(Crash):
            twin.commit(root)
        where = f"{twin_name}: crash at step {k} of {steps}"
        assert twin.visible(root) in (old, new), where  # (a)
        twin.commit(root)
        assert twin.visible(root) == new, where  # (b)
