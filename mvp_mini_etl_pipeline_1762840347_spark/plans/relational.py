"""Extended relational surface (SURVEY §2.4 note: "expose Spark's full
join surface since it is free, and exercise it in the driver
queries"): semi/anti/full joins, rollup/cube, pivot, set ops, exact
percentiles, as-of and range joins.

These generalize the reference's only join shapes (broadcast lookups
J1-J3) to the full algebra an analytics engine needs; every query
keeps the same discipline -- broadcast small sides, aggregate before
shuffling, deterministic orderings for anything ranked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import local_frame, read_table
from .registry import query


# ---------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS)
# ---------------------------------------------------------------------------
@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one big order -- left_semi join: the
    probe side streams, nothing from the build side is materialized in
    the output (half the shuffle of an inner join + dedup)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all -- left_anti join (the
    data-quality staple)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


# ---------------------------------------------------------------------------
# Full outer join over per-nation aggregates
# ---------------------------------------------------------------------------
@query(
    "join_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_customers
               FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers
               FROM supplier GROUP BY 1)
    SELECT coalesce(c.nk, s.nk)         AS nationkey,
           coalesce(n_customers, 0)     AS n_customers,
           coalesce(n_suppliers, 0)     AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer vs supplier presence -- full outer join of
    two pre-aggregated sides (aggregate-then-join: the join input is
    #nations rows, not #customers)."""
    c = (
        read_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    j = c.join(s, "nk", "full_outer")
    return j.select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


# ---------------------------------------------------------------------------
# ROLLUP / CUBE with explicit grouping flags
# ---------------------------------------------------------------------------
@query(
    "rollup_orders",
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
                ELSE o_orderstatus END   AS status,
           CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
                ELSE o_orderpriority END AS priority,
           count(*)                      AS n_orders,
           round(sum(o_totalprice), 2)   AS total_price
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (status -> status+priority -> grand
    total).  GROUPING() flags distinguish real NULL keys from
    subtotal rows -- the portable way to compare rollups."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.grouping("o_orderstatus").alias("g1"),
            F.grouping("o_orderpriority").alias("g2"),
        )
        .select(
            F.when(F.col("g1") == 1, "ALL").otherwise(F.col("o_orderstatus")).alias("status"),
            F.when(F.col("g2") == 1, "ALL").otherwise(F.col("o_orderpriority")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@query(
    "cube_pricing",
    oracle="""
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL'
                ELSE l_returnflag END  AS returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL'
                ELSE l_linestatus END  AS linestatus,
           count(*)                    AS n_items,
           round(sum(l_quantity), 2)   AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations over (returnflag, linestatus)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.grouping("l_returnflag").alias("g1"),
            F.grouping("l_linestatus").alias("g2"),
        )
        .select(
            F.when(F.col("g1") == 1, "ALL").otherwise(F.col("l_returnflag")).alias("returnflag"),
            F.when(F.col("g2") == 1, "ALL").otherwise(F.col("l_linestatus")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# Pivot (status x priority count matrix)
# ---------------------------------------------------------------------------
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIV_COLS = ["p1_urgent", "p2_high", "p3_medium", "p4_not_specified", "p5_low"]


@query(
    "pivot_status_priority",
    oracle="""
    SELECT o_orderstatus AS status,
           count(*) FILTER (WHERE o_orderpriority = '1-URGENT')        AS p1_urgent,
           count(*) FILTER (WHERE o_orderpriority = '2-HIGH')          AS p2_high,
           count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')        AS p3_medium,
           count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4_not_specified,
           count(*) FILTER (WHERE o_orderpriority = '5-LOW')           AS p5_low
    FROM orders GROUP BY o_orderstatus
    """,
)
def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide count matrix via pivot with an explicit value list (never
    let pivot scan for distinct values at scale -- that's an extra
    job over the full table)."""
    o = read_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy(F.col("o_orderstatus").alias("status"))
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renamed = piv.select(
        "status",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(c)
            for p, c in zip(_PRIORITIES, _PIV_COLS)
        ],
    )
    return renamed


# ---------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT (distinct semantics)
# ---------------------------------------------------------------------------
@query(
    "setops_custkeys",
    oracle="""
    SELECT 'both' AS side, o_custkey AS custkey FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'open_only' AS side, o_custkey AS custkey FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def setops_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with both open and finished orders (INTERSECT) vs
    open-only (EXCEPT), tagged and unioned."""
    o = read_table(spark, sf_dir, "orders")
    open_k = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    fin_k = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    both = open_k.intersect(fin_k).select(F.lit("both").alias("side"), "custkey")
    # subtract == EXCEPT DISTINCT (exceptAll's multiset semantics would
    # keep keys whose open-count exceeds their finished-count).
    only = open_k.subtract(fin_k).select(F.lit("open_only").alias("side"), "custkey")
    return both.unionByName(only)


# ---------------------------------------------------------------------------
# Exact percentiles per group
# ---------------------------------------------------------------------------
@query(
    "percentile_stats",
    oracle="""
    SELECT o_orderstatus AS status,
           round(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2)  AS p90,
           round(quantile_cont(o_totalprice, 0.99), 2) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per status.  (At 100 TB swap for
    approx_percentile -- sketch-mergeable, one pass; exact kept here
    because the oracle can verify it bit-for-bit.)"""
    o = read_table(spark, sf_dir, "orders")
    # One array-argument percentile per group (buffer + sort once,
    # not once per percentage); values identical.
    return (
        o.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.percentile(
                "o_totalprice",
                F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
            ).alias("pq")
        )
        .select(
            "status",
            F.round(F.element_at("pq", 1), 2).alias("p50"),
            F.round(F.element_at("pq", 2), 2).alias("p90"),
            F.round(F.element_at("pq", 3), 2).alias("p99"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join (events -> latest prior order of the same customer)
# ---------------------------------------------------------------------------
@query(
    "asof_join",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id,
           o.o_orderkey  AS asof_orderkey,
           o.o_orderdate AS asof_orderdate
    FROM events e
    ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join -- Spark has no native operator (SURVEY: custom
    operators rule (a): compose built-ins).  Implementation: tag both
    streams, union, single window sort per key, carry the last
    non-null order forward, keep event rows.  One shuffle on the key,
    no range cross-join -- the merge-join shape that scales.

    Orders are pre-deduped per (custkey, orderdate) keeping max
    orderkey so ties are deterministic in both engines.
    """
    from .events import _events

    e = _events(spark, sf_dir)
    o = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    o_tagged = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey").alias("ord_key"),
        F.col("o_orderdate").alias("ord_date"),
        F.lit(0).alias("is_event"),
    )
    e_tagged = e.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        "event_id",
        F.lit(None).cast("long").alias("ord_key"),
        F.lit(None).cast(o.schema["o_orderdate"].dataType).alias("ord_date"),
        F.lit(1).alias("is_event"),
    )
    # Order rows sort before event rows at identical t => '>=' asof.
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = o_tagged.unionByName(e_tagged).select(
        "*",
        F.last("ord_key", ignorenulls=True).over(w).alias("asof_orderkey"),
        F.last("ord_date", ignorenulls=True).over(w).alias("asof_orderdate"),
    )
    return merged.filter(F.col("is_event") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        "asof_orderkey",
        "asof_orderdate",
    )


# ---------------------------------------------------------------------------
# Range join (value -> band lookup)
# ---------------------------------------------------------------------------
_BANDS = [(0.0, 50.0, "low"), (50.0, 120.0, "mid"), (120.0, 1e9, "high")]
_BANDS_SQL = ", ".join(f"({lo}, {hi}, '{name}')" for lo, hi, name in _BANDS)


@query(
    "range_join_bands",
    oracle=f"""
    WITH bands(lo, hi, band) AS (VALUES {_BANDS_SQL})
    SELECT b.band, count(*) AS n_events, round(sum(e.value), 2) AS total_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
)
def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join of events against a band table.  The band
    side is tiny and broadcast => BroadcastNestedLoopJoin, which is
    the right physical plan when one side fits in memory; for
    large-large range joins, bucketize the range key and equi-join on
    the bucket."""
    from .events import _events

    e = _events(spark, sf_dir)
    bands = local_frame(spark, _BANDS, "lo double, hi double, band string")
    return (
        e.join(
            F.broadcast(bands),
            (e.value >= bands.lo) & (e.value < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# String + numeric scalar sweeps
# ---------------------------------------------------------------------------
@query(
    "string_funcs",
    oracle="""
    SELECT c_custkey,
           substring(c_name, 1, 8)           AS name_prefix,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           reverse(c_name)                   AS name_rev,
           length(c_name)                    AS name_len,
           replace(c_name, '_', '-')         AS name_dashed,
           levenshtein(c_mktsegment, 'BUILDING') AS seg_dist
    FROM customer
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function sweep: substring/lpad/reverse/length/replace/
    levenshtein (all codegen'd builtins)."""
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.reverse("c_name").alias("name_rev"),
        F.length("c_name").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("_"), F.lit("-")).alias("name_dashed"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("seg_dist"),
    )


@query(
    "numeric_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 4)       AS disc_dev,
           CAST(ceil(l_quantity) AS BIGINT)       AS qty_ceil,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
           round(sqrt(l_extendedprice), 4)        AS price_sqrt,
           round(ln(l_extendedprice + 1), 6)      AS price_ln,
           CAST(l_quantity AS BIGINT) % 7         AS qty_mod,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign
    FROM lineitem
    """,
)
def numeric_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric function sweep: abs/ceil/floor/sqrt/ln/mod/sign."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
    )


# ---------------------------------------------------------------------------
# Distribution window functions (ntile / percent_rank / cume_dist)
# ---------------------------------------------------------------------------
@query(
    "window_distribution",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ntile(4)       OVER w AS bal_quartile,
           round(percent_rank() OVER w, 6) AS bal_pct_rank,
           round(cume_dist()    OVER w, 6) AS bal_cume_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution/statistical window functions per market segment,
    ordered by (balance, key) so ranks are unique and deterministic.
    One shuffle on the partition key; the sort is per-partition."""
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("bal_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS (between rollup and cube)
# ---------------------------------------------------------------------------
@query(
    "grouping_sets_pricing",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*)                      AS n_items,
           round(sum(l_extendedprice), 2) AS gross
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube,
    both also registered): per-(flag,status), per-flag, and grand
    total in ONE pass -- Spark expands the sets into a single
    aggregation over a grouping-id column, not three scans.  Sentinel
    'ALL' marks the aggregated-out dimensions (the group columns are
    non-null here, so the sentinel is unambiguous)."""
    li = read_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*)                       AS n_items,
               round(sum(l_extendedprice), 2) AS gross
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# ---------------------------------------------------------------------------
# Array / collection function sweep
# ---------------------------------------------------------------------------
@query(
    "array_funcs",
    oracle="""
    WITH a AS (
      SELECT l_orderkey,
             list_sort(list(CAST(l_quantity AS BIGINT))) AS qtys
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(qtys)                         AS n_items,
           qtys[1]                           AS qty_min,
           qtys[-1]                          AS qty_max,
           array_to_string(qtys, ',')        AS qty_csv,
           list_contains(qtys, 40)           AS has_qty_40,
           CAST(list_sum(qtys) AS BIGINT)    AS qty_sum
    FROM a
    """,
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection-function sweep: group to a sorted array per order,
    then element access, membership, join-to-string and a higher-order
    fold (aggregate) -- the array toolkit the engine's LSH/similarity
    operators are built from, oracle-checked once here in isolation.
    collect_list order is nondeterministic, so the array is sorted
    before any order-sensitive use (SURVEY §7 order gotcha)."""
    li = read_table(spark, sf_dir, "lineitem")
    a = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(F.col("l_quantity").cast("bigint"))).alias(
            "qtys"
        )
    )
    return a.select(
        "l_orderkey",
        F.size("qtys").alias("n_items"),
        F.element_at("qtys", 1).alias("qty_min"),
        F.element_at("qtys", -1).alias("qty_max"),
        F.array_join(F.transform("qtys", lambda x: x.cast("string")), ",").alias(
            "qty_csv"
        ),
        F.array_contains("qtys", F.lit(40).cast("bigint")).alias("has_qty_40"),
        F.aggregate("qtys", F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias(
            "qty_sum"
        ),
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy string-match join (levenshtein with blocking key)
# ---------------------------------------------------------------------------
@query(
    "fuzzy_name_match",
    oracle="""
    WITH c AS (
      SELECT c_custkey, substring(c_name, 10) AS c_suffix FROM customer
    ),
    s AS (
      SELECT s_suppkey, substring(s_name, 10) AS s_suffix FROM supplier
    )
    SELECT s_suppkey, count(*) AS n_near_customers
    FROM s JOIN c
      ON substring(s.s_suffix, 1, 6) = substring(c.c_suffix, 1, 6)
     AND levenshtein(s.s_suffix, c.c_suffix) <= 1
    GROUP BY s_suppkey
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: customer/supplier id-suffixes within
    edit distance 1, joined on a BLOCKING key (shared 6-char prefix)
    so the expensive levenshtein only runs inside blocks -- the
    standard record-linkage shape.  At scale the blocking key is the
    knob: finer blocks (more prefix chars, phonetic codes, LSH
    buckets) keep per-block pair counts bounded; the equi-join on the
    block key is an ordinary shuffle join, never a cross join."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", F.substring("c_name", 10, 100).alias("c_suffix")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.substring("s_name", 10, 100).alias("s_suffix")
    )
    block = F.substring("s_suffix", 1, 6) == F.substring("c_suffix", 1, 6)
    near = F.levenshtein("s_suffix", "c_suffix") <= 1
    return (
        F.broadcast(s)
        .join(c, block & near)
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_near_customers"))
    )


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------
@query(
    "join_null_safe",
    oracle="""
    WITH c AS (
      SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg FROM customer
    ),
    d AS (
      SELECT DISTINCT nullif(c_mktsegment, 'BUILDING') AS seg,
             coalesce(nullif(c_mktsegment, 'BUILDING'), 'suppressed') AS label
      FROM customer
    )
    SELECT d.label, count(*) AS n_customers
    FROM c JOIN d ON c.seg IS NOT DISTINCT FROM d.seg
    GROUP BY d.label
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>`): NULL keys match NULL, so rows
    with a suppressed dimension value still land in a labeled group
    instead of silently dropping out of an inner join -- the SQL
    `IS NOT DISTINCT FROM` semantics, an ordinary hash join in Spark
    (null-safe equality is still an equi-key)."""
    c = read_table(spark, sf_dir, "customer")
    seg = F.nullif("c_mktsegment", F.lit("BUILDING"))
    cc = c.select("c_custkey", seg.alias("seg"))
    d = (
        c.select(seg.alias("dseg"))
        .distinct()
        .select("dseg", F.coalesce("dseg", F.lit("suppressed")).alias("label"))
    )
    return (
        cc.join(F.broadcast(d), cc.seg.eqNullSafe(F.col("dseg")))
        .groupBy("label")
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Explicit null ordering (NULLS FIRST / LAST)
# ---------------------------------------------------------------------------
@query(
    "sort_null_ordering",
    oracle="""
    SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg, c_acctbal
    FROM customer
    ORDER BY seg NULLS FIRST, c_acctbal DESC, c_custkey
    LIMIT 50
    """,
)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS FIRST ordering with a unique tiebreak and limit:
    Spark's default sort order puts nulls first ascending, but the
    engine states it explicitly (asc_nulls_first) because the
    reference semantics must not depend on engine defaults.  Top-k
    with limit -> TakeOrdered, no global sort."""
    c = read_table(spark, sf_dir, "customer")
    seg = F.nullif("c_mktsegment", F.lit("BUILDING"))
    return (
        c.select("c_custkey", seg.alias("seg"), "c_acctbal")
        .orderBy(
            F.col("seg").asc_nulls_first(),
            F.col("c_acctbal").desc(),
            F.col("c_custkey"),
        )
        .limit(50)
    )


# ---------------------------------------------------------------------------
# UNPIVOT (wide -> long)
# ---------------------------------------------------------------------------
@query(
    "unpivot_balances",
    oracle="""
    WITH wide AS (
      SELECT c_mktsegment,
             round(sum(c_acctbal), 2)  AS total_bal,
             round(avg(c_acctbal), 2)  AS avg_bal,
             round(max(c_acctbal), 2)  AS max_bal
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, metric, val
    FROM wide
    UNPIVOT (val FOR metric IN (total_bal, avg_bal, max_bal))
    """,
)
def unpivot_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping (UNPIVOT / melt): per-segment balance
    metrics stacked into (metric, value) rows via stack() -- a narrow
    generator expression, the inverse of pivot_status_priority.  At
    scale unpivot multiplies rows (cols x rows) but stays shuffle-free;
    do it after aggregation, as here, not before."""
    c = read_table(spark, sf_dir, "customer")
    wide = c.groupBy("c_mktsegment").agg(
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )
    return wide.select(
        "c_mktsegment",
        F.expr(
            "stack(3, 'total_bal', total_bal, 'avg_bal', avg_bal, "
            "'max_bal', max_bal) AS (metric, val)"
        ),
    )


# ---------------------------------------------------------------------------
# Frame-based window value functions (first/nth/last over frames)
# ---------------------------------------------------------------------------
@query(
    "window_value_funcs",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           first_value(o_totalprice) OVER w                    AS first_price,
           nth_value(o_totalprice, 2) OVER w                   AS second_price,
           last_value(o_totalprice)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)           AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_value_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / nth_value / last_value with an explicit
    whole-partition ROWS frame: the default frame stops at CURRENT ROW,
    which silently turns last_value into "current value" -- the classic
    window-frame trap, stated explicitly here and ordered with a unique
    tiebreak."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
    )


# ---------------------------------------------------------------------------
# Ranking with ties (dense_rank vs row_number semantics)
# ---------------------------------------------------------------------------
@query(
    "top_parts_with_ties",
    oracle="""
    SELECT * FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             dense_rank() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC) AS price_rank
      FROM part
    ) WHERE price_rank <= 3
    """,
)
def top_parts_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 price TIERS per brand including ties: dense_rank keeps
    every part at a tied price (row_number would arbitrarily break
    ties and drop rows; the engine uses row_number only with a unique
    tiebreak, and dense_rank when tie inclusion is the semantics)."""
    p = read_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return (
        p.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.dense_rank().over(w).alias("price_rank"),
        )
        .filter(F.col("price_rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Multiset set operations (INTERSECT ALL / EXCEPT ALL)
# ---------------------------------------------------------------------------
@query(
    "setops_multiset",
    oracle="""
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
    b AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000),
    i AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b),
    e AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    SELECT 'intersect_all' AS op, count(*) AS n FROM i
    UNION ALL
    SELECT 'except_all', count(*) FROM e
    """,
)
def setops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations: INTERSECT ALL keeps min(m,n)
    copies of a duplicated key, EXCEPT ALL keeps m-n -- different
    results from the DISTINCT variants whenever keys repeat (a
    customer with several qualifying orders).  Spark's
    intersectAll/exceptAll implement this with a counted hash
    aggregation, one shuffle per side."""
    o = read_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    b = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("k")
    )
    i = a.intersectAll(b).agg(F.count("*").alias("n")).select(
        F.lit("intersect_all").alias("op"), "n"
    )
    e = a.exceptAll(b).agg(F.count("*").alias("n")).select(
        F.lit("except_all").alias("op"), "n"
    )
    return i.unionByName(e)


# ---------------------------------------------------------------------------
# Ordered string aggregation (listagg / string_agg)
# ---------------------------------------------------------------------------
@query(
    "string_agg_nations",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation per region (LISTAGG/string_agg):
    Spark has no ordered string_agg aggregate, so the deterministic
    form is collect_list -> array_sort -> array_join -- explicit
    ordering instead of engine-dependent aggregation order."""
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count("*").alias("n_nations"),
        )
    )


# ---------------------------------------------------------------------------
# Map-type functions (construction, keys, cardinality, lookup)
# ---------------------------------------------------------------------------
@query(
    "map_funcs",
    oracle="""
    WITH cnt AS (
      SELECT r_name, n_name, count(*) AS n_cust
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    ),
    m AS (
      SELECT r_name,
             map(list(n_name ORDER BY n_name),
                 list(n_cust ORDER BY n_name)) AS nation_counts
      FROM cnt GROUP BY r_name
    )
    SELECT r_name,
           cardinality(nation_counts)                      AS n_nations,
           array_to_string(map_keys(nation_counts), ',')   AS nations_csv,
           nation_counts[map_keys(nation_counts)[1]][1]    AS first_nation_cust
    FROM m
    """,
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-column surface: build a nation->customer-count map per
    region from SORTED aligned key/value arrays (collect_list order is
    nondeterministic, so construction sorts first -- same discipline
    as every collect in this engine), then cardinality, key listing
    and element lookup.  Maps ride Spark's MapType end to end; the
    oracle's map element access returns a single-element list, hence
    the [1] index there."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    cnt = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"))
    )
    entries = F.array_sort(F.collect_list(F.struct("n_name", "n_cust")))
    m = cnt.groupBy("r_name").agg(
        F.map_from_arrays(
            F.transform(entries, lambda s: s["n_name"]),
            F.transform(entries, lambda s: s["n_cust"]),
        ).alias("nation_counts")
    )
    return m.select(
        "r_name",
        F.size("nation_counts").alias("n_nations"),
        F.array_join(F.map_keys("nation_counts"), ",").alias("nations_csv"),
        F.element_at(
            F.col("nation_counts"),
            F.element_at(F.map_keys("nation_counts"), 1),
        ).alias("first_nation_cust"),
    )


# ---------------------------------------------------------------------------
# Salted join: semantics-preserving skew rewrite, oracle-checked
# ---------------------------------------------------------------------------


@query(
    "join_salted",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority revenue through operators/scale.py::salted_join --
    the skew-resilient join rewrite (big side salted by row hash,
    small side replicated n_salts times, join on (key, salt)) -- with
    the PLAIN join as the oracle, proving the rewrite is
    semantics-preserving end to end, not just in a unit test.

    Scale: a hot l_orderkey's rows spread over 8 reducers instead of
    one; the deterministic salt (xxhash64 of the row, not rand())
    keeps the plan replayable.  Use when AQE's skew split can't
    apply; the aggregation after the join partial-aggregates as
    usual.  tests/test_scale.py measures the skew win on a
    manufactured hot key (3.1x at sf0.1)."""
    from ..operators.scale import salted_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    j = salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=8)
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("rev"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Raw ANSI-SQL surface: ONE text parsed by both engines
# ---------------------------------------------------------------------------
# The whole string is engine-portable (CASTs keep DuckDB's sum out of
# HUGEINT); Spark parses it with Catalyst over registered temp views,
# DuckDB over its parquet views -- the oracle IS the query text.
_SQL_LINE_PRIORITY = """
    SELECT l_returnflag AS returnflag,
           count(*) AS n_lines,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= DATE '1995-06-01'
      AND l_shipdate <  DATE '1996-06-01'
    GROUP BY l_returnflag
"""


@query("sql_line_priority", oracle=_SQL_LINE_PRIORITY)
def sql_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw ANSI-SQL text surface (TPC-H Q12 class, adapted to the
    reduced lineitem schema): the IDENTICAL query string is handed to
    Catalyst via spark.sql over registered temp views AND to DuckDB as
    the oracle -- zero translation, proving a user can bring plain SQL
    text to this engine and get the same answer a reference engine
    gives.  Counts are integer-exact; the CASTs are portability
    armor (DuckDB sums integers into HUGEINT otherwise).

    Scale shape: Catalyst plans this text exactly like the DataFrame
    twin queries -- filter pushed to the lineitem scan, the date range
    prunable, one shuffle for the join and a map-side-combined
    aggregate; SQL text gets the same optimizer, not a slower path."""
    from ..io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_LINE_PRIORITY)


# ---------------------------------------------------------------------------
# Entity resolution: multi-source survivorship into golden records
# ---------------------------------------------------------------------------
@query(
    "er_golden_record",
    oracle="""
    WITH ent AS (
      SELECT c_custkey AS ek, md5(CAST(c_custkey AS VARCHAR)) AS nm,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    recs AS (
      SELECT nm AS name, bal_cents, 1 AS src FROM ent
      UNION ALL
      SELECT 'z' || substring(nm, 2), bal_cents, 2 FROM ent
      WHERE ek % 3 = 0
      UNION ALL
      SELECT upper(substring(nm, 1, 1)) || substring(nm, 2),
             bal_cents - 5000, 3 FROM ent WHERE ek % 5 = 0
    ),
    blocked AS (SELECT substring(name, 3, 12) AS blk, * FROM recs),
    canon AS (
      SELECT blk, min_by(name, src) AS golden_name,
             min_by(bal_cents, src) AS golden_bal_cents,
             CAST(count(*) AS BIGINT) AS n_records,
             CAST(count(DISTINCT src) AS BIGINT) AS n_sources,
             count(DISTINCT bal_cents) > 1 AS bal_conflict
      FROM blocked GROUP BY blk
    ),
    dist AS (
      SELECT b.blk,
             CAST(max(levenshtein(b.name, c.golden_name)) AS BIGINT)
               AS max_intra_dist
      FROM blocked b JOIN canon c USING (blk) GROUP BY 1
    )
    SELECT c.blk AS cluster_key, c.golden_name, c.golden_bal_cents,
           c.n_records, c.n_sources, c.bal_conflict, d.max_intra_dist
    FROM canon c JOIN dist d USING (blk)
    """,
)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end: three source systems feed dirty
    variants of each customer record (a clean master, a feed with a
    corrupted name head, a stale-balance feed with case drift --
    staged deterministically from the customer table), and
    SURVIVORSHIP merges each cluster into one golden record by source
    priority: name and balance from the most-trusted source present,
    conflict flags and an intra-cluster edit-distance radius riding
    along for stewardship review.

    Clustering here is by a collision-free BLOCKING key (a stable
    substring untouched by either corruption); when blocks do not
    cleanly partition -- overlapping or dirtier keys -- the
    candidate-pair + connected-components path of
    dedup_clusters/dedup_apply supplies the cluster ids and this
    survivorship step is unchanged.  That split (cheap blocking when
    evidence allows, graph clustering when it does not) is the
    production MDM shape.

    Scale: record generation is three narrow projections unioned
    (zero shuffle); survivorship is one groupBy on the cluster key
    with min_by/struct-min conflict resolution (no window, no sort);
    the distance audit joins records back to their cluster's golden
    row on the same key -- both sides hash-partition on blk, one
    co-located shuffle each.  Balances stay integer cents."""
    c = read_table(spark, sf_dir, "customer")
    ent = c.select(
        F.col("c_custkey").alias("ek"),
        F.md5(F.col("c_custkey").cast("string")).alias("nm"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    src_a = ent.select("nm", "bal_cents").withColumn("src", F.lit(1)).select(
        F.col("nm").alias("name"), "bal_cents", "src"
    )
    src_b = (
        ent.filter(F.col("ek") % 3 == 0)
        .select(
            F.concat(F.lit("z"), F.expr("substring(nm, 2)")).alias("name"),
            "bal_cents",
            F.lit(2).alias("src"),
        )
    )
    src_c = (
        ent.filter(F.col("ek") % 5 == 0)
        .select(
            F.concat(
                F.upper(F.substring("nm", 1, 1)), F.expr("substring(nm, 2)")
            ).alias("name"),
            (F.col("bal_cents") - 5000).alias("bal_cents"),
            F.lit(3).alias("src"),
        )
    )
    blocked = (
        src_a.unionByName(src_b)
        .unionByName(src_c)
        .withColumn("blk", F.substring("name", 3, 12))
        .localCheckpoint(eager=True)  # record feed reused by both passes
    )
    canon = blocked.groupBy("blk").agg(
        F.min_by("name", "src").alias("golden_name"),
        F.min_by("bal_cents", "src").alias("golden_bal_cents"),
        F.count("*").cast("bigint").alias("n_records"),
        F.countDistinct("src").cast("bigint").alias("n_sources"),
        (F.countDistinct("bal_cents") > 1).alias("bal_conflict"),
    )
    dist = (
        blocked.join(canon.select("blk", "golden_name"), "blk")
        .groupBy("blk")
        .agg(
            F.max(F.levenshtein("name", "golden_name"))
            .cast("bigint")
            .alias("max_intra_dist")
        )
    )
    return canon.join(dist, "blk").select(
        F.col("blk").alias("cluster_key"),
        "golden_name",
        "golden_bal_cents",
        "n_records",
        "n_sources",
        "bal_conflict",
        "max_intra_dist",
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood ER blocking (windowed candidate pairs, no sort)
# ---------------------------------------------------------------------------
_SN_W = 3       # neighborhood window: pair records within W sort ranks
_SN_PREFIX = 2  # value-based block = first chars of the sort key


@query(
    "er_sorted_neighborhood",
    oracle=f"""
    WITH k AS (
      SELECT c_custkey, reverse(lower(c_name)) AS r FROM customer
    ),
    ranked AS (
      SELECT c_custkey, row_number() OVER (ORDER BY r, c_custkey) AS rn
      FROM k
    )
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           CAST(b.rn - a.rn AS BIGINT) AS rank_dist
    FROM ranked a JOIN ranked b
      ON b.rn > a.rn AND b.rn <= a.rn + {_SN_W}
    ORDER BY custkey_a, custkey_b
    """,
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking for entity resolution: sort
    records by a fuzzy key (the REVERSED lowercased name -- the
    classic trick that clusters suffix typos) and emit every pair
    within {w} sort ranks -- O(n*{w}) candidates instead of O(n^2),
    the complement of token/LSH blocking for typo-class duplicates
    that share no token.

    The oracle states the textbook form: one global sort + a
    rank-distance self-join.  The distributed form never sorts
    globally: the key space splits into VALUE-BASED blocks (a
    {p}-char key prefix -- lengthen the prefix until a block fits a
    task), ranks are per-block windows, and block offsets come from a
    prefix sum over the bounded block list, so global_rank =
    block_offset + in-block rank reconstructs the exact global
    ranking.  Pair generation is then an EQUI-join: the left side
    explodes j in 1..{w} and matches rank+j against rank -- a unique
    integer key join, no range predicate, no boundary special-casing
    (cross-block pairs fall out of the offset arithmetic)."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", F.reverse(F.lower(F.col("c_name"))).alias("r")
    )
    blocked = c.withColumn("blk", F.substring("r", 1, _SN_PREFIX))
    wb = Window.partitionBy("blk").orderBy("r", "c_custkey")
    ranked = blocked.withColumn(
        "idx", F.row_number().over(wb) - 1
    )
    counts = blocked.groupBy("blk").agg(F.count("*").alias("cnt"))
    woff = Window.orderBy("blk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # <= 10^prefix rows: bounded frame
    offs = counts.select(
        "blk", (F.sum("cnt").over(woff) - F.col("cnt")).alias("off")
    )
    g = (
        ranked.join(F.broadcast(offs), "blk")
        .select(
            "c_custkey", (F.col("idx") + F.col("off") + 1).alias("grank")
        )
    )
    left = g.select(
        F.col("c_custkey").alias("custkey_a"),
        "grank",
        F.explode(
            F.sequence(F.lit(1), F.lit(_SN_W))
        ).alias("rank_dist"),
    ).withColumn("partner", F.col("grank") + F.col("rank_dist"))
    return (
        left.join(
            g.select(
                F.col("c_custkey").alias("custkey_b"),
                F.col("grank").alias("partner"),
            ),
            "partner",
        )
        .select(
            "custkey_a", "custkey_b", F.col("rank_dist").cast("bigint")
        )
        .orderBy("custkey_a", "custkey_b")
    )


er_sorted_neighborhood.__doc__ = er_sorted_neighborhood.__doc__.format(
    w=_SN_W, p=_SN_PREFIX
)


# ---------------------------------------------------------------------------
# Eager aggregation (partial group-by pushed below the join)
# ---------------------------------------------------------------------------
@query(
    "eager_agg_pushdown",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_lineitems,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_mktsegment
    """,
)
def eager_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eager aggregation (Yan-Larson): the revenue-by-market-segment
    rollup with the group-by PUSHED BELOW both joins.  The oracle
    states the lazy form (join everything, then aggregate); the
    engine pre-aggregates lineitem per order key BEFORE touching
    orders, then per customer key before touching customer, because
    every aggregate here (count, sum) is decomposable and the join
    keys functionally determine the final group.

    Why it matters at 100 TB: the lazy plan shuffles EVERY lineitem
    row into the join and carries the full joined width into the
    aggregation; the eager plan's first shuffle already carries one
    row per order key (6e9 -> 1.5e9 at SF-1000) and each later join
    input shrinks by another cardinality step, with the final
    aggregation reduced to |customer| rows.  Catalyst does not apply
    this rewrite itself (it only pushes partial aggregation one
    exchange deep), so stating it in the plan is the difference
    between shuffling lineitem and shuffling per-order partials.
    Value-identity with the lazy form is exactly what the driver's
    oracle verifies; an inner join drops keyless rows identically in
    both shapes."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("pn"),
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
        ).alias("pc"),
    )
    per_cust = (
        per_order.join(
            orders.select("o_orderkey", "o_custkey"),
            per_order.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("pn").alias("pn"), F.sum("pc").alias("pc"))
    )
    return (
        per_cust.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            per_cust.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.sum("pn").cast("bigint").alias("n_lineitems"),
            F.sum("pc").cast("bigint").alias("revenue_cents"),
        )
    )
