"""Scale-out operators: the physical-layout toolkit for the 100 TB
deployment of this engine.  Nothing here changes query *semantics* --
each helper reshapes the plan so a correctness-identical query stops
shuffling (bucketing), stops melting one reducer (salted join), reads
less (partition pruning), or becomes incrementally maintainable
(merge/upsert).  All are exercised by tests/test_scale.py, which
asserts on the physical plan (`Exchange` absence, `PartitionFilters`)
-- not just on values.

Two merge algebras live here, one helper each:

* replace-merge, ``merge_upsert``: a matched key takes the update's
  row (incremental load of a dimension or fact);
* fold-merge, ``fold``: a state of commutative aggregates absorbs a
  batch's partial aggregates by re-applying the same reductions over
  ``delta UNION state`` (every exactly-once stream state table).

The reference has no physical layer at all (SURVEY §4: eager JS array
passes); these are the Spark-native answers to what its dataflow
would need at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_parquet


# ---------------------------------------------------------------------------
# Salted skew join
# ---------------------------------------------------------------------------
def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to a hot key when the small side is too big
    to broadcast: the big side gets a random-ish salt derived from its
    full row hash, the small side is replicated n_salts times, and the
    join key becomes (key, salt) -- a hot key's rows spread over
    n_salts reducers instead of one.

    Deterministic (salt = xxhash64 of the big row, not rand()) so
    plans are replayable.  Use when AQE's skew-join split can't help
    (e.g. the skew is in a join feeding an aggregation that must not
    be split).  Result == plain join, verified by test_scale.py.

    Only inner/left joins are supported: the small side is replicated
    n_salts times, so a right/full outer join would emit every
    unmatched small-side row once per salt replica.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left joins only, got {how!r}: "
            "the replicated small side would duplicate unmatched rows "
            "under right/full outer semantics"
        )
    salt = (F.pmod(F.xxhash64(*big.columns), F.lit(n_salts))).cast("int")
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.array([F.lit(i) for i in range(n_salts)]))
    )
    out = b.join(
        s,
        (b[big_key] == s[small_key]) & (b["__salt"] == s["__salt"]),
        how,
    )
    return out.drop("__salt")


# ---------------------------------------------------------------------------
# Bucketed warehouse (co-located big-big joins)
# ---------------------------------------------------------------------------
def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 16,
    sort_key: str | None = None,
) -> None:
    """Persist a DataFrame as a bucketed managed table: rows are
    hash-partitioned into n_buckets files per partition by bucket_key
    at WRITE time, so any later equi-join or aggregation on that key
    needs no exchange -- the shuffle is paid once, at load, instead of
    per-query.  This is the deploy-time plan for the lineitem/orders
    orderkey joins (plans/analytics.py::order_fulfillment)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    if sort_key is not None:
        w = w.sortBy(sort_key)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: Column | str
) -> DataFrame:
    """Join two tables previously written with write_bucketed on the
    same key and bucket count.  With matching bucketing Spark plans a
    SortMergeJoin with zero Exchange on either side (asserted in
    tests); at 100 TB this is the difference between re-shuffling two
    fact tables per query and reading co-located files."""
    return spark.table(left_table).join(spark.table(right_table), on)


# ---------------------------------------------------------------------------
# Partitioned layout + pruning
# ---------------------------------------------------------------------------
def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Write parquet hive-partitioned by partition_cols (the layout
    for time-series facts like `events`: partition by event date, so
    date-ranged queries touch only matching directories).  Keep
    partition cardinality sane (days, not user_ids): each partition
    should hold >= one full parquet row-group at target scale."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def read_pruned(
    spark: SparkSession, path: str, predicate: Column
) -> DataFrame:
    """Read a partitioned dataset with a partition predicate.  The
    filter lands in the scan's PartitionFilters (asserted in tests):
    non-matching directories are never listed into the plan, which is
    what makes a 100 TB hypertable queryable -- I/O proportional to
    the slice, not the table."""
    return read_parquet(spark, path).filter(predicate)


# ---------------------------------------------------------------------------
# Merge: replace (upsert) and fold (aggregate state), the two algebras
# ---------------------------------------------------------------------------
def merge_upsert(
    target: DataFrame, updates: DataFrame, key: str
) -> DataFrame:
    """MERGE semantics on plain DataFrames: rows whose key appears in
    `updates` take the update's values (matched -> update), unmatched
    update rows are appended (not matched -> insert), untouched target
    rows pass through.  Columns must match by name.

    Implementation is a single full-outer join on the key with
    per-column "updates wins" coalesce -- one shuffle, no driver-side
    diffing.  This is the incremental-load primitive behind the
    reference's restart semantics (SURVEY §2.8 ST3: re-extract and
    recompute) done *incrementally*: re-running a day's extract merges
    into the warehouse instead of rewriting it.  At deploy scale the
    same join runs shuffle-free against a bucketed target."""
    t = target.alias("t")
    u = updates.alias("u")
    joined = t.join(u, F.col(f"t.{key}") == F.col(f"u.{key}"), "full_outer")
    matched = F.col(f"u.{key}").isNotNull()
    cols = [
        F.when(matched, F.col(f"u.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in target.columns
    ]
    return joined.select(*cols)


def fold(delta: DataFrame, keys: list[str], **reducers):
    """``merge_fn(target)`` folding ``delta`` into a state table of
    commutative aggregates: ``merge_fn(None)`` is ``delta`` itself (the
    first batch), and ``merge_fn(target)`` re-applies each value
    column's reduction over ``delta UNION target`` grouped on ``keys``
    -- the DBSP view of an aggregate state, where merging a delta is
    the aggregate itself applied again.

    ``reducers`` maps every non-key column of ``delta`` to a function
    of its name returning the aggregate Column (``F.sum``, ``F.min``,
    ``F.max``, ``F.bit_or``, ``F.bit_xor``, or a lambda such as
    ``lambda c: F.min_by(c, "first_key")``).  Aggregates skip nulls and
    ``groupBy`` groups null keys, so the folded state equals the batch
    aggregate over every row folded in: an all-null total stays null,
    a null key keeps one row.  ``keys=[]`` folds a one-row global
    state.  The output carries exactly ``delta``'s column names, order
    and types, so a state table's schema cannot drift across batches.
    """

    def _merge(target: DataFrame | None) -> DataFrame:
        if target is None:
            return delta
        folded = (
            delta.unionByName(target)
            .groupBy(*keys)
            .agg(*[red(c).alias(c) for c, red in reducers.items()])
        )
        return folded.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in delta.schema]
        )

    return _merge


# ---------------------------------------------------------------------------
# SCD Type 2 merge (versioned dimension history)
# ---------------------------------------------------------------------------
def scd2_merge(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    effective: Column | str,
    attrs: list[str],
    start_col: str = "valid_from",
    end_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension Type 2 merge: rows whose attributes
    changed get their current version CLOSED (end timestamp stamped,
    current flag dropped) and a NEW open version appended; unchanged
    and historical rows pass through untouched.

    `target` carries (key, attrs..., valid_from, valid_to,
    is_current); `updates` carries (key, attrs...).  `effective` is
    either a constant Column (one effective time for the whole merge,
    the nightly-batch case) or the NAME of a column in `updates`
    (per-row effective time, the CDC case -- each key's version
    boundary is stamped with that key's own change time).  One left
    join of the current slice against updates decides changed/new;
    the history slice never joins at all.  At deploy scale the target
    is bucketed on the key so the join is shuffle-free, and the merge
    output overwrites partitions, not the whole table.
    """
    cur = target.filter(F.col(current_col))
    hist = target.filter(~F.col(current_col))

    eff_name = effective if isinstance(effective, str) else None
    u = updates.select(
        F.col(key).alias("__ukey"),
        *[F.col(a).alias(f"__u_{a}") for a in attrs],
        *([F.col(eff_name).alias("__u_eff")] if eff_name else []),
    )
    if eff_name:
        effective = F.col("__u_eff")
    joined = cur.join(u, cur[key] == F.col("__ukey"), "full_outer")

    attr_changed = F.lit(False)
    for a in attrs:
        attr_changed = attr_changed | ~F.col(a).eqNullSafe(F.col(f"__u_{a}"))
    is_new = cur[key].isNull()
    is_changed = F.col("__ukey").isNotNull() & ~is_new & attr_changed

    # untouched current rows (no update, or update identical)
    untouched = joined.filter(~is_new & ~is_changed).select(*target.columns)
    # closed-out versions of changed rows (stamp the effective time
    # before projecting down to target columns -- the per-row
    # effective lives on the update side of the join)
    closed = (
        joined.filter(is_changed)
        .select(*target.columns, effective.alias("__eff"))
        .withColumn(end_col, F.col("__eff"))
        .withColumn(current_col, F.lit(False))
        .drop("__eff")
    )
    # fresh versions: changed rows' new values + brand-new keys
    fresh = joined.filter(is_changed | is_new).select(
        F.coalesce(cur[key], F.col("__ukey")).alias(key),
        *[F.col(f"__u_{a}").alias(a) for a in attrs],
        effective.alias(start_col),
        F.lit(None).cast(target.schema[end_col].dataType).alias(end_col),
        F.lit(True).alias(current_col),
    )
    return untouched.unionByName(closed).unionByName(fresh).unionByName(hist)


# ---------------------------------------------------------------------------
# Small-file compaction (table maintenance)
# ---------------------------------------------------------------------------
def compact_small_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Rewrite a parquet directory into ~target_bytes files -- the
    OPTIMIZE/bin-pack maintenance pass every streaming or incremental
    sink eventually needs: availableNow micro-batches and per-batch
    appends leave thousands of KB-sized files whose open/footer
    overhead comes to dominate scans long before data volume does.

    Sizing comes from the actual on-disk bytes (file listing), not row
    counts, so skewed row widths still land near the target.  The
    rewrite is one `repartition(n)` pass -- a round-robin shuffle that
    also heals skewed file sizes -- committed through
    operators/table_format.py's `_staged_swap`: staged fully into a
    sibling directory, then swapped in.  A crash at any step leaves
    the old files or the new ones (a crash between the swap's two
    renames is rolled back on the next call, which then compacts
    again), and nothing is deleted until the new copy is live.  It
    is NOT a transaction against concurrent access: a reader racing
    the swap can hit vanished files, and a writer appending
    mid-compaction loses its file.  Where those matter, the same
    rewrite runs under SnapshotTable.commit's pointer swap, which
    readers never race.  Returns {"files_before", "files_after",
    "bytes"}.  At deploy scale this is the job you schedule off-peak
    per partition of a hive layout."""
    import math
    import os

    from .table_format import _staged_swap

    def _parts(p: str) -> list[str]:
        return [
            os.path.join(p, f)
            for f in os.listdir(p)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]

    stats = {}

    def _build(_):
        before = _parts(path)
        total = sum(os.path.getsize(f) for f in before)
        stats.update(files_before=len(before), bytes=total)
        n = max(1, math.ceil(total / target_bytes))
        return read_parquet(spark, path).repartition(n), None

    _staged_swap(path, _build)
    return {
        "files_before": stats["files_before"],
        "files_after": len(_parts(path)),
        "bytes": stats["bytes"],
    }


# ---------------------------------------------------------------------------
# Z-order clustered write (multi-dimensional data skipping)
# ---------------------------------------------------------------------------
_Z_BITS = 16  # per-dimension resolution of the interleave


def zorder_value(x: Column, y: Column, x_max: Column, y_max: Column) -> Column:
    """Morton (Z-curve) value of two non-negative keys: each key is
    normalized to [0, 2^bits) against its max, then the two bit
    strings interleave into one long.  Built from shift/and/or
    primitives only, so it stays inside whole-stage codegen -- the
    expression is ~2*bits terms, constant-shaped, no UDF."""
    xs = (x.cast("double") / (x_max + 1) * (1 << _Z_BITS)).cast("bigint")
    ys = (y.cast("double") / (y_max + 1) * (1 << _Z_BITS)).cast("bigint")
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        bit = F.lit(1 << i).cast("bigint")
        z = (
            z.bitwiseOR(F.shiftleft(xs.bitwiseAND(bit), i + 1))
            .bitwiseOR(F.shiftleft(ys.bitwiseAND(bit), i))
        )
    return z


def write_zordered(
    df: DataFrame, path: str, col_x: str, col_y: str, n_files: int
) -> None:
    """Write parquet clustered on the Z-curve of (col_x, col_y) -- the
    OPTIMIZE ZORDER BY layout: files cover small rectangles of the
    2-D key space instead of thin slabs of one key, so per-file
    min/max zone maps (zone_map_lineitem's statistics) prune scans
    for predicates on EITHER column.  A linear sort gives perfect
    skipping on its sort key and none on the second; Z-order trades a
    little of the first for most of the second -- the right layout
    when a 100 TB fact serves both access paths.  Range-partition +
    sort-within on the z-value: one shuffle, files are contiguous
    z-ranges.  tests/test_scale.py quantifies the skipping win on
    real per-file min/max stats."""
    stats = df.agg(
        F.max(col_x).alias("mx"), F.max(col_y).alias("my")
    ).collect()[0]
    z = zorder_value(
        F.col(col_x), F.col(col_y), F.lit(stats["mx"]), F.lit(stats["my"])
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
