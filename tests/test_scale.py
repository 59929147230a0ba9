"""Physical-layout operators (operators/scale.py): each test asserts
BOTH result correctness and the physical-plan property the operator
exists for (no Exchange, PartitionFilters, salt spread)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mvp_mini_etl_pipeline_1762840347_spark.io import read_events, read_table
from mvp_mini_etl_pipeline_1762840347_spark.operators.scale import (
    bucketed_join,
    merge_upsert,
    read_pruned,
    salted_join,
    write_bucketed,
    write_partitioned,
)

SF = "/root/testdata/sf0.001"


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


# ---------------------------------------------------------------------------
# salted_join == plain join, salt actually spreads
# ---------------------------------------------------------------------------
def test_salted_join_matches_plain_join(spark):
    o = read_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    plain = o.join(c, o.o_custkey == c.c_custkey)
    salted = salted_join(o, c, "o_custkey", "c_custkey", n_salts=4)
    cols = ["o_orderkey", "o_custkey", "c_custkey", "c_mktsegment"]
    assert _rows(salted, *cols) == _rows(plain, *cols)
    assert "__salt" not in salted.columns


def test_salted_join_spreads_hot_key(spark):
    # one hot key: every big row has key=1
    big = spark.range(1000).select(F.lit(1).alias("k"), F.col("id"))
    small = spark.createDataFrame([(1, "x")], "k2 int, v string")
    out = salted_join(big, small, "k", "k2", n_salts=8)
    assert out.count() == 1000
    # the salt column on the big side takes >1 distinct value,
    # i.e. the hot key's rows really land on multiple reducers
    salt = (F.pmod(F.xxhash64("k", "id"), F.lit(8))).cast("int")
    n_salts_used = big.select(salt.alias("s")).distinct().count()
    assert n_salts_used > 1


# ---------------------------------------------------------------------------
# bucketed tables join with no exchange
# ---------------------------------------------------------------------------
def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    spark.sql("CREATE DATABASE IF NOT EXISTS scale_test")
    spark.sql("USE scale_test")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # at sf0.001 both sides fit the broadcast threshold; disable it so
    # the planner exercises the bucketed sort-merge path under test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = read_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
        li = read_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
        write_bucketed(o, "b_orders", "o_orderkey", n_buckets=4)
        write_bucketed(li, "b_lineitem", "l_orderkey", n_buckets=4)
        j = bucketed_join(
            spark,
            "b_orders",
            "b_lineitem",
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and it's still a correct join
        expected = o.join(li, o.o_orderkey == li.l_orderkey).count()
        assert j.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("USE default")


def test_bucketed_groupby_has_no_shuffle(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS scale_test")
    spark.sql("USE scale_test")
    try:
        li = read_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
        write_bucketed(li, "b_li_agg", "l_orderkey", n_buckets=4)
        agg = (
            spark.table("b_li_agg")
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS b_li_agg")
        spark.sql("USE default")


# ---------------------------------------------------------------------------
# partitioned write + partition pruning
# ---------------------------------------------------------------------------
def test_partition_pruning(spark, tmp_path):
    path = os.path.join(str(tmp_path), "events_parted")
    ev = read_events(spark, SF).withColumn("event_date", F.to_date("ts"))
    write_partitioned(ev, path, ["event_date"])
    one_day = ev.groupBy("event_date").count().orderBy("event_date").first()
    pruned = read_pruned(
        spark, path, F.col("event_date") == F.lit(one_day["event_date"])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the partition predicate must be IN PartitionFilters (pruning),
    # not only in PushedFilters (row-group skipping)
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_date" in pf, plan
    assert pruned.count() == one_day["count"]


# ---------------------------------------------------------------------------
# merge/upsert
# ---------------------------------------------------------------------------
def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id int, name string, val double",
    )
    updates = spark.createDataFrame(
        [(2, "B2", 99.0), (4, "d", 40.0)],
        "id int, name string, val double",
    )
    out = merge_upsert(target, updates, "id")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (1, "a", 10.0),       # untouched
        (2, "B2", 99.0),      # matched -> updated
        (3, "c", 30.0),       # untouched
        (4, "d", 40.0),       # not matched -> inserted
    ]


def test_merge_upsert_idempotent(spark):
    target = spark.createDataFrame([(1, 1.0)], "id int, v double")
    updates = spark.createDataFrame([(1, 2.0), (2, 5.0)], "id int, v double")
    once = merge_upsert(target, updates, "id")
    twice = merge_upsert(once, updates, "id")
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.collect())
    )


def test_dynamic_partition_pruning(spark, tmp_path):
    """Joining a date-partitioned fact with a filtered dimension must
    plan a dynamic pruning subquery on the partition column -- at
    deploy scale this is what keeps a 100 TB hypertable join from
    scanning every date directory when the dim filter only selects a
    few."""
    path = os.path.join(str(tmp_path), "events_dpp")
    ev = read_events(spark, SF).withColumn("event_date", F.to_date("ts"))
    write_partitioned(ev, path, ["event_date"])
    fact = spark.read.parquet(path)
    dim = (
        ev.select("event_date").distinct()
        .withColumn("is_hot", F.dayofmonth("event_date") <= 2)
    )
    j = fact.join(dim.filter(F.col("is_hot")), "event_date")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


# ---------------------------------------------------------------------------
# SCD Type 2 merge
# ---------------------------------------------------------------------------
def test_scd2_merge_versions(spark):
    from mvp_mini_etl_pipeline_1762840347_spark.operators.scale import scd2_merge

    target = spark.createDataFrame(
        [
            (1, "NYC", "2024-01-01", None, True),
            (2, "LA", "2024-01-01", None, True),
            # key 3 already has history: an old closed row + a current row
            (3, "CHI", "2024-01-01", "2024-02-01", False),
            (3, "MIA", "2024-02-01", None, True),
        ],
        "id int, city string, valid_from string, valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame(
        [
            (1, "BOS"),   # changed -> close v1, open v2
            (2, "LA"),    # identical -> untouched
            (4, "SEA"),   # new key -> open v1
        ],
        "id int, city string",
    )
    out = scd2_merge(
        target, updates, "id", F.lit("2024-03-01"), ["city"]
    ).orderBy("id", "valid_from")
    rows = [tuple(r) for r in out.collect()]
    assert rows == [
        (1, "NYC", "2024-01-01", "2024-03-01", False),  # closed
        (1, "BOS", "2024-03-01", None, True),           # new version
        (2, "LA", "2024-01-01", None, True),            # untouched
        (3, "CHI", "2024-01-01", "2024-02-01", False),  # history passthrough
        (3, "MIA", "2024-02-01", None, True),           # current untouched
        (4, "SEA", "2024-03-01", None, True),           # brand new
    ]


def test_scd2_merge_idempotent(spark):
    from mvp_mini_etl_pipeline_1762840347_spark.operators.scale import scd2_merge

    target = spark.createDataFrame(
        [(1, "NYC", "2024-01-01", None, True)],
        "id int, city string, valid_from string, valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame([(1, "BOS")], "id int, city string")
    once = scd2_merge(target, updates, "id", F.lit("2024-03-01"), ["city"])
    twice = scd2_merge(once, updates, "id", F.lit("2024-03-01"), ["city"])
    # re-applying the same update changes nothing (values already current)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_scd2_merge_per_row_effective(spark):
    """CDC mode: `effective` as an updates column name stamps each
    key's version boundary with that key's OWN change time."""
    from mvp_mini_etl_pipeline_1762840347_spark.operators.scale import scd2_merge

    target = spark.createDataFrame(
        [
            (1, "NYC", "2024-01-01", None, True),
            (2, "LA", "2024-01-01", None, True),
        ],
        "id int, city string, valid_from string, valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame(
        [
            (1, "BOS", "2024-03-05"),  # changed at its own time
            (3, "SEA", "2024-03-09"),  # new key at a different time
        ],
        "id int, city string, changed_at string",
    )
    out = scd2_merge(
        target, updates, "id", "changed_at", ["city"]
    ).orderBy("id", "valid_from")
    rows = [tuple(r) for r in out.collect()]
    assert rows == [
        (1, "NYC", "2024-01-01", "2024-03-05", False),  # closed at ITS time
        (1, "BOS", "2024-03-05", None, True),
        (2, "LA", "2024-01-01", None, True),
        (3, "SEA", "2024-03-09", None, True),           # opened at ITS time
    ]


def test_runtime_bloom_filter_join_pruning(spark):
    """With a selective filter on one join side, Spark injects a
    runtime Bloom filter (might_contain) on the big side so
    non-matching rows drop BEFORE the shuffle.  Size thresholds are
    lowered here because local test data is tiny; at deploy scale
    (application side >= 10 GB by default) the injection fires on the
    defaults -- this pins that the engine's plans are eligible."""
    o = read_table(spark, SF, "orders").filter(F.col("o_totalprice") > 400000)
    li = read_table(spark, SF, "lineitem")
    expected = li.join(o, li.l_orderkey == o.o_orderkey).count()

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    try:
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan.lower(), plan
        # the Bloom pre-filter must not change results
        assert j.count() == expected
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_salted_join_rejects_outer_joins(spark):
    import pytest as _pytest

    o = read_table(spark, SF, "orders").limit(10)
    c = read_table(spark, SF, "customer").limit(10)
    for how in ("right", "full", "full_outer", "right_outer"):
        with _pytest.raises(ValueError, match="inner/left"):
            salted_join(o, c, "o_custkey", "c_custkey", n_salts=4, how=how)


# ---------------------------------------------------------------------------
# Snapshot table (transactional-format stand-in for MERGE INTO)
# ---------------------------------------------------------------------------
def test_snapshot_table_merge_restore(spark, tmp_path):
    from mvp_mini_etl_pipeline_1762840347_spark.operators.table_format import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k int, name string, v int"
    )
    assert t.commit(base) == "snapshot-0"

    updates = spark.createDataFrame(
        [(2, "b2", 25), (3, "c", 30)], "k int, name string, v int"
    )
    assert t.merge(updates, "k") == "snapshot-1"
    rows = {r.k: (r.name, r.v) for r in t.read().collect()}
    assert rows == {1: ("a", 10), 2: ("b2", 25), 3: ("c", 30)}

    # idempotent restart (ST3): same merge again -> identical content
    t.merge(updates, "k")
    rows2 = {r.k: (r.name, r.v) for r in t.read().collect()}
    assert rows2 == rows

    # old snapshot still readable (snapshot isolation / time travel)
    assert {r.k for r in t.read_version(0).collect()} == {1, 2}

    # rollback, then vacuum keeps the live snapshot
    t.restore(0)
    assert {r.k for r in t.read().collect()} == {1, 2}
    removed = t.vacuum(keep_last=1)
    assert "snapshot-0" not in removed
    assert {r.k for r in t.read().collect()} == {1, 2}


def test_snapshot_table_crash_leaves_previous_live(spark, tmp_path):
    from mvp_mini_etl_pipeline_1762840347_spark.operators.table_format import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "a")], "k int, name string"))
    # Simulate a failed write landing a partial directory: the pointer
    # still names snapshot-0, so readers are unaffected.
    import os
    os.makedirs(str(tmp_path / "tbl" / "snapshot-1"))
    assert t.current_snapshot() == "snapshot-0"
    assert [r.k for r in t.read().collect()] == [1]


# ---------------------------------------------------------------------------
# winsorized_pricing_approx: one fact scan (vs two in the exact form),
# and the histogram estimate stays close to the exact winsorized mean
# ---------------------------------------------------------------------------
def test_winsorized_approx_single_fact_scan(spark):
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    def n_scans(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("lineitem.parquet")

    approx = plans.QUERIES["winsorized_pricing_approx"](spark, SF)
    exact = plans.QUERIES["winsorized_pricing"](spark, SF)
    assert n_scans(approx) == 1, "approx form must read the fact table once"
    assert n_scans(exact) == 2  # the two-pass shape it replaces

    got = {r.l_returnflag: r.winsorized_mean_approx for r in approx.collect()}
    want = {r.l_returnflag: r.winsorized_mean for r in exact.collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) / want[k] < 0.01, (k, got[k], want[k])


# ---------------------------------------------------------------------------
# compact_small_files: fewer files, identical content, atomic swap
# ---------------------------------------------------------------------------
def test_compact_small_files(spark, tmp_path):
    from mvp_mini_etl_pipeline_1762840347_spark.operators.scale import (
        compact_small_files,
    )

    path = str(tmp_path / "frag")
    li = read_table(spark, SF, "lineitem")
    # fragment: many tiny appends, the streaming-sink pathology
    for i in range(6):
        li.filter(F.col("l_linenumber") == i + 1).coalesce(2).write.mode(
            "append"
        ).parquet(path)
    pre = spark.read.parquet(path)
    want = pre.count()
    want_sum = pre.agg(
        F.round(F.sum("l_extendedprice"), 2).alias("s")
    ).collect()[0]["s"]
    files_before = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )

    stats = compact_small_files(spark, path, target_bytes=64 * 1024 * 1024)

    assert stats["files_before"] == files_before > 2
    assert stats["files_after"] < files_before
    assert spark.read.parquet(path).count() == want
    got_sum = spark.read.parquet(path).agg(
        F.round(F.sum("l_extendedprice"), 2).alias("s")
    ).collect()[0]["s"]
    assert got_sum == want_sum
    # no staging residue
    from mvp_mini_etl_pipeline_1762840347_spark.operators.table_format import (
        _BACKUP,
        _STAGING,
    )

    assert not os.path.exists(path + _STAGING)
    assert not os.path.exists(path + _BACKUP)


# ---------------------------------------------------------------------------
# write_zordered: second-key zone maps actually prune vs a linear sort
# ---------------------------------------------------------------------------
def test_zorder_write_improves_second_key_skipping(spark, tmp_path):
    from mvp_mini_etl_pipeline_1762840347_spark.operators.scale import (
        write_zordered,
    )

    li = read_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    linear, zord = str(tmp_path / "linear"), str(tmp_path / "zord")
    n = 8
    (
        li.repartitionByRange(n, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.parquet(linear)
    )
    write_zordered(li, zord, "l_orderkey", "l_partkey", n)

    def partkey_file_ranges(path):
        df = spark.read.parquet(path).withColumn("f", F.input_file_name())
        rows = df.groupBy("f").agg(
            F.min("l_partkey").alias("mn"), F.max("l_partkey").alias("mx")
        ).collect()
        return [(r["mn"], r["mx"]) for r in rows]

    def hit_fraction(path):
        """Fraction of (file, probe-range) pairs a zone map cannot
        skip, over a grid of l_partkey range predicates."""
        ranges = partkey_file_ranges(path)
        pk_max = max(mx for _, mx in ranges)
        w = max(1, pk_max // 10)
        probes = [(lo, lo + w) for lo in range(0, pk_max, max(1, pk_max // 5))]
        hits = sum(
            1
            for lo, hi in probes
            for mn, mx in ranges
            if not (mx < lo or mn > hi)
        )
        return hits / (len(probes) * len(ranges))

    lin_frac, z_frac = hit_fraction(linear), hit_fraction(zord)
    # linear-on-orderkey leaves partkey unclustered: zone maps are
    # useless (every file spans ~the whole partkey domain); z-order
    # must make a real fraction of (file, probe) pairs skippable.
    assert z_frac < lin_frac, (lin_frac, z_frac)
    assert z_frac <= 0.75 * lin_frac, (lin_frac, z_frac)

    # identical content
    got = spark.read.parquet(zord).agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("s")
    ).collect()[0]
    want = li.agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("s")
    ).collect()[0]
    assert (got["n"], got["s"]) == (want["n"], want["s"])


# ---------------------------------------------------------------------------
# sole_late_supplier: the window rewrite reads lineitem ONCE (the
# aggregate-then-join-back form re-derived the orders join per branch
# and scanned the fact table twice)
# ---------------------------------------------------------------------------
def test_sole_late_supplier_single_fact_scan(spark):
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    df = plans.QUERIES["sole_late_supplier"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 1, "fact table must be read once"
    assert plan.count("orders.parquet") == 1


# ---------------------------------------------------------------------------
# important_parts (Q11-class): the scalar-subquery threshold reuses
# the per-part aggregate's exchange -- ONE lineitem scan at runtime,
# never a second pass over the fact table for the global total
# ---------------------------------------------------------------------------
def test_important_parts_reuses_exchange(spark):
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    df = plans.QUERIES["important_parts"](spark, SF)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, "global total must reuse the group-by exchange"
    assert final.count("lineitem.parquet") == 1, "fact table must be read once"


# ---------------------------------------------------------------------------
# fd_profile: same-table FD hypotheses are FUSED -- each profiled
# table is scanned exactly once (6 candidates over 3 tables -> 3
# scans), the map-side explode fanning every row into its table's
# (candidate, key, value) records before one shared shuffle
# ---------------------------------------------------------------------------
def test_fd_profile_fused_scans(spark):
    from mvp_mini_etl_pipeline_1762840347_spark import plans
    from mvp_mini_etl_pipeline_1762840347_spark.plans.quality import (
        _FD_CANDIDATES,
    )

    assert len(_FD_CANDIDATES) == 6
    df = plans.QUERIES["fd_profile"](spark, SF)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    for tbl in ("orders", "lineitem", "customer"):
        assert final.count(f"{tbl}.parquet") == 1, (
            f"{tbl} candidates must share one scan"
        )


# ---------------------------------------------------------------------------
# join_bloom_pruned: the Bloom runtime filter must actually FIRE --
# the pruned fact scan emits only rows that can match (the selective
# segment's ~1/5 of orders, plus ~0.6% false positives), never the
# full table, and never drops a true match
# ---------------------------------------------------------------------------
def test_bloom_prune_discards_at_scan(spark):
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.plans.sketches import (
        _BJ_SEGMENT,
        bloom_prune,
    )

    sf = "/root/testdata/sf0.1"
    cust = read_table(spark, sf, "customer")
    orders = read_table(spark, sf, "orders")
    dim = cust.filter(F.col("c_mktsegment") == _BJ_SEGMENT).select("c_custkey")

    pruned = bloom_prune(dim, "c_custkey", orders, "o_custkey")
    n_orders = orders.count()
    n_pruned = pruned.count()
    n_true = orders.join(dim, orders.o_custkey == dim.c_custkey, "left_semi").count()

    # pruning fires: survivors are a small fraction of the fact table
    assert n_pruned < 0.25 * n_orders, (n_pruned, n_orders)
    # lossless: every true match survives; overshoot is only Bloom fps
    assert n_true <= n_pruned <= n_true + int(0.02 * n_orders) + 1, (
        n_true,
        n_pruned,
    )


# ---------------------------------------------------------------------------
# eager_agg_pushdown: the Yan-Larson rewrite is IN the executed plan --
# the operator that consumes the lineitem scan is a partial
# HashAggregate keyed on l_orderkey, so the only lineitem-derived
# exchange carries per-order partials, never raw lineitem rows
# ---------------------------------------------------------------------------
def _plan_depth(line: str) -> int:
    """Length of the tree-drawing prefix (spaces, ':', '+', '-', '|')
    before the node text -- strictly smaller for ancestors."""
    i = 0
    while i < len(line) and line[i] in " :+-|":
        i += 1
    return i


def _plan_ancestors(lines: list[str], i: int) -> list[str]:
    """True ancestors of line *i* in a plan pretty-print: the chain of
    preceding lines with strictly decreasing tree depth.  A preceding
    line at the same-or-deeper depth belongs to a sibling subtree and
    is skipped (round-7 ADVICE: a plain backwards text scan can match
    the other join child)."""
    depth = _plan_depth(lines[i])
    out = []
    for j in range(i - 1, -1, -1):
        d = _plan_depth(lines[j])
        if d < depth and lines[j].strip():
            out.append(lines[j])
            depth = d
    return out


def test_eager_agg_preaggregates_before_join(spark):
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    df = plans.QUERIES["eager_agg_pushdown"](spark, SF)
    df.collect()  # finalize the adaptive plan
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    lines = final.splitlines()
    scan_i = next(
        i for i, ln in enumerate(lines) if "lineitem.parquet" in ln
    )
    # walk the REAL ancestor chain (indentation-depth based, not a
    # raw backwards text scan) to the nearest aggregate/join
    anc = next(
        ln
        for ln in _plan_ancestors(lines, scan_i)
        if "HashAggregate" in ln or "Join" in ln
    )
    assert "HashAggregate" in anc, (
        "lineitem must feed a pre-aggregate, not a join:\n" + anc
    )
    assert "keys=[l_orderkey" in anc and "partial_" in anc, (
        "the scan's aggregate must be the per-order partial:\n" + anc
    )
    # the shuffle of lineitem-derived data is keyed on the order key
    # (i.e. it moves per-order partials)
    assert "Exchange hashpartitioning(l_orderkey" in final
    assert final.count("lineitem.parquet") == 1


# ---------------------------------------------------------------------------
# sketch_hll_cube: the lattice fan-out multiplies REGISTERS, never
# facts -- every Generate(explode) in the executed plan sits above an
# aggregate, not above a raw scan, and orders is read exactly twice
# (register build + the exact-distinct accuracy yardstick)
# ---------------------------------------------------------------------------
def test_hll_cube_fans_out_registers_not_facts(spark):
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    df = plans.QUERIES["sketch_hll_cube"](spark, SF)
    df.collect()  # finalize the adaptive plan
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    lines = final.splitlines()
    gen_lines = [i for i, ln in enumerate(lines) if "Generate explode" in ln]
    assert gen_lines, "cube lattice fan-out missing from the plan"
    for g in gen_lines:
        # restrict to the explode's OWN subtree (deeper tree depth)
        # so a sibling branch below cannot satisfy the check
        gd = _plan_depth(lines[g])
        subtree = []
        for ln in lines[g + 1:]:
            if ln.strip() and _plan_depth(ln) <= gd:
                break
            subtree.append(ln)
        below = next(
            ln
            for ln in subtree
            if "HashAggregate" in ln or "FileScan" in ln
        )
        assert "HashAggregate" in below, (
            "explode must consume aggregated registers, not the raw "
            "fact scan:\n" + lines[g]
        )
    assert final.count("orders.parquet") == 2, (
        "register build + exact yardstick = exactly two orders scans"
    )


# ---------------------------------------------------------------------------
# round-7 additions: scan-count pins -- the composites must not
# re-derive their scan subtrees (the self-join / union-per-branch
# forms measured 3-8 scans before restructuring)
# ---------------------------------------------------------------------------
def test_release_and_recall_scan_counts(spark):
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    df = plans.QUERIES["training_data_release"](spark, SF)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    # flags + minhash signatures + decontamination shingles, same
    # budget as corpus_disposition
    assert final.count("documents.parquet") == 3, "release: three corpus scans"

    df = plans.QUERIES["embedding_prefix_recall"](spark, SF)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    # ranking side + broadcast query side; the full-dim reference is
    # derived from the SAME top-k rows, never a re-ranked self-join
    assert final.count("embeddings.parquet") == 2, (
        "prefix recall: one ranking scan + the broadcast query side"
    )


def test_join_order_advisor_one_scan_per_table(spark):
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    df = plans.QUERIES["join_order_advisor"](spark, SF)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    for tbl in ("nation", "customer", "orders", "lineitem"):
        assert final.count(f"{tbl}.parquet") == 1, (
            f"{tbl}: stats must come from one fused aggregation pass"
        )
