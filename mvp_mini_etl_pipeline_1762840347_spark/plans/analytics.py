"""Classic multi-table OLAP shapes over the star schema (the
north-star "analytics engine" surface, SURVEY §0 layer 2): shipping-
priority, region-revenue and top-customer queries in the tradition of
the public TPC-H workload, plus big-big join and salted-aggregation
patterns.

Scale notes per query inline; the common discipline:
* star joins: facts shuffle at most once, dimensions broadcast;
* big-big joins (lineitem x orders) shuffle both sides on the join
  key -- the plan to bucket/co-partition at deploy time;
* every top-k is TakeOrdered with a unique tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import local_frame, read_events, read_table
from .registry import query

_CUT = "1999-01-01"


# ---------------------------------------------------------------------------
# Shipping-priority shape (TPC-H Q3 family)
# ---------------------------------------------------------------------------
@query(
    "top_unshipped_revenue",
    oracle=f"""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{_CUT}'
      AND l_shipdate  > TIMESTAMP '{_CUT}'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def top_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of not-yet-shipped lineitems for BUILDING-segment orders
    placed before the cutoff; top-10 orders.  Both date filters and
    the segment filter push into the scans; customer is broadcast so
    only lineitem<->orders shuffles."""
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(_CUT).cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(_CUT).cast("timestamp")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Region-revenue shape (TPC-H Q5 family)
# ---------------------------------------------------------------------------
@query(
    "local_supplier_revenue",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
)
def local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue shipped by suppliers in the customer's own nation,
    for two regions.  Everything except lineitem<->orders is a
    broadcast; nation/region prune down the customer side before the
    fact join."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Top-customers-by-returned-revenue shape (TPC-H Q10 family)
# ---------------------------------------------------------------------------
@query(
    "top_return_customers",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def top_return_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned-item revenue."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = read_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Big-big shuffle join (the bucketing candidate)
# ---------------------------------------------------------------------------
@query(
    "order_fulfillment",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           count(*)                          AS n_items,
           round(sum(l_quantity), 2)         AS total_qty,
           round(sum(l_extendedprice), 2)    AS gross,
           round(sum(l_extendedprice) - o_totalprice, 2) AS price_delta
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_totalprice
    """,
)
def order_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders x lineitem: the canonical big-big join.  Both sides
    shuffle on orderkey (sort-merge under AQE); at deploy scale these
    two tables are bucketed on the key so this join is shuffle-free.
    The group-by reuses the join partitioning -- no second exchange."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("gross"),
        )
        .select(
            "o_orderkey",
            "o_totalprice",
            "n_items",
            "total_qty",
            "gross",
            F.round(F.col("gross") - F.col("o_totalprice"), 2).alias("price_delta"),
        )
    )


# ---------------------------------------------------------------------------
# Salted two-phase aggregation (hot-key defense)
# ---------------------------------------------------------------------------
_SALT = 8


@query(
    "groupby_salted",
    oracle="""
    SELECT l_returnflag,
           count(*)                  AS n_items,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def groupby_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: phase 1 groups on
    (key, crc32(rowid) % SALT) spreading a hot key over SALT reducers,
    phase 2 merges the partials.  Result identical to the plain
    group-by (which the oracle runs); the pattern is the defense when
    one key dominates and AQE's skew handling can't split an
    aggregation.  (Spark's own partial aggregation covers most cases;
    salting matters for high-cardinality-per-key constructs like
    collect_list/count_distinct over skewed keys.)"""
    li = read_table(spark, sf_dir, "lineitem")
    salt = (F.crc32(F.concat_ws("_", "l_orderkey", "l_linenumber")) % _SALT).alias(
        "salt"
    )
    partial = (
        li.select("l_returnflag", "l_quantity", salt)
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count("*").alias("pc"),
            F.sum("l_quantity").alias("pq"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pc").alias("n_items"),
        F.round(F.sum("pq"), 2).alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# Statistical aggregates (corr / covar / stddev)
# ---------------------------------------------------------------------------
@query(
    "stats_pricing",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)       AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(stddev_samp(l_extendedprice), 4)            AS price_stddev,
           round(var_samp(l_quantity), 6)                    AS qty_var
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate sweep per return flag: Pearson
    correlation, sample covariance/variance, stddev.  All are
    algebraic (constant-size partial state: sums, sums of squares,
    cross products), so they partial-aggregate map-side and shuffle
    O(groups) rows like any count/sum -- cheap at any scale."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
    )


# ---------------------------------------------------------------------------
# Conditional-share aggregation (TPC-H Q14 family)
# ---------------------------------------------------------------------------
@query(
    "promo_revenue_share",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY ALL
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of revenue from promo parts in one quarter: conditional
    sum over a fact-dimension join.  The date range pushes into the
    lineitem scan; part broadcasts; one global aggregate -- a single
    row crosses the final exchange."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0.0)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar subquery over an aggregate (TPC-H Q15 family)
# ---------------------------------------------------------------------------
@query(
    "top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum quarterly revenue: the classic
    view + scalar-subquery-over-the-view shape.  Decorrelation: the
    revenue aggregate is computed once, its 1-row max broadcasts back
    onto itself, then the tiny winner set joins supplier broadcast --
    lineitem is scanned and shuffled exactly once."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    winners = revenue.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("max_revenue")
    )
    return winners.join(
        F.broadcast(s), winners.supplier_no == s.s_suppkey
    ).select("s_suppkey", "s_name", "total_revenue")


# ---------------------------------------------------------------------------
# Disjunctive multi-predicate join filter (TPC-H Q19 family)
# ---------------------------------------------------------------------------
@query(
    "disjunctive_filter_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 45
           AND l_quantity BETWEEN 20 AND 40)
    GROUP BY ALL
    """,
)
def disjunctive_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-conjunctions over join columns (Q19's shape).  Catalyst
    factors the common p_partkey equi-key out of the disjunction so
    this stays a hash join with a residual condition -- NOT a nested
    loop; the brand/size arms also derive an IN-list pushdown on the
    part scan."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    arm = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 45)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(arm)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Period-over-period growth (lag over aggregated trend)
# ---------------------------------------------------------------------------
@query(
    "orders_growth",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             round(sum(o_totalprice), 2) AS revenue,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT month, revenue, n_orders,
           round(100.0 * (revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month), 4) AS mom_growth_pct
    FROM monthly
    """,
)
def orders_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue trend with month-over-month growth.  The lag
    window runs over the AGGREGATED series (one row per month --
    dozens of rows at any data scale), so the unpartitioned window
    sort is safe: the heavy lifting happened in the keyed aggregation
    below it.  First month's growth is NULL by construction."""
    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    from pyspark.sql.window import Window as W

    w = W.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        "n_orders",
        F.round(100.0 * (F.col("revenue") - prev) / prev, 4).alias(
            "mom_growth_pct"
        ),
    )


# ---------------------------------------------------------------------------
# Two-nation trade flow (TPC-H Q7 family)
# ---------------------------------------------------------------------------
@query(
    "nation_trade_flow",
    oracle="""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ns ON ns.n_nationkey = s_nationkey
    JOIN nation nc ON nc.n_nationkey = c_nationkey
    WHERE (ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_9')
       OR (ns.n_name = 'NATION_9' AND nc.n_name = 'NATION_3')
    GROUP BY 1, 2, 3
    """,
)
def nation_trade_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping volume between two nations in both directions, by
    year (Q7's symmetric OR over a dimension pair).  All dimensions
    broadcast; the disjunctive nation filter evaluates on broadcast
    rows after the hash joins, so the only data-sized shuffle is
    lineitem->orders on orderkey, then the small keyed aggregation."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ns = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_9")
    ) | ((F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("volume")
        )
    )


# ---------------------------------------------------------------------------
# RFM customer scoring (recency / frequency / monetary quartiles)
# ---------------------------------------------------------------------------
@query(
    "customer_rfm",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey,
             max(o_orderdate)               AS last_order,
             count(*)                       AS frequency,
             round(sum(o_totalprice), 2)    AS monetary
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey
    ),
    scored AS (
      SELECT c_custkey,
             ntile(4) OVER (ORDER BY last_order, c_custkey) AS r_score,
             ntile(4) OVER (ORDER BY frequency, c_custkey)  AS f_score,
             ntile(4) OVER (ORDER BY monetary, c_custkey)   AS m_score
      FROM per_cust
    )
    SELECT r_score, f_score, m_score, count(*) AS n_customers
    FROM scored GROUP BY 1, 2, 3
    """,
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary
    quartiles (ntile with a unique key tiebreak for cross-engine
    determinism), reported as segment sizes.  The per-customer
    aggregate is the only data-sized shuffle; the ntile windows run
    over one row per customer.  (Unpartitioned ntile serializes on one
    reducer -- acceptable for a customer-grain frame; at extreme
    cardinality swap in percent_rank binning, which partitions.)"""
    from pyspark.sql.window import Window as W

    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    per_cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )
    scored = per_cust.select(
        F.ntile(4).over(W.orderBy("last_order", "c_custkey")).alias("r_score"),
        F.ntile(4).over(W.orderBy("frequency", "c_custkey")).alias("f_score"),
        F.ntile(4).over(W.orderBy("monetary", "c_custkey")).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers")
    )


# ---------------------------------------------------------------------------
# Customer order-count distribution (TPC-H Q13 family)
# ---------------------------------------------------------------------------
@query(
    "customer_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS n_customers
    FROM per_cust GROUP BY c_count
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of customers by order count (Q13's left-join
    double aggregation) -- count(o_orderkey) over a LEFT join so
    customers with zero orders land in the c_count=0 bucket instead
    of vanishing.  First aggregation shuffles on custkey; the second
    groups the tiny count domain."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("n_customers"))


# ---------------------------------------------------------------------------
# In-SQL linear regression (normal equations per group)
# ---------------------------------------------------------------------------
@query(
    "regression_price_qty",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def regression_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary least squares per group, computed from algebraic
    moments: slope = covar_pop/var_pop, intercept = E[y] - slope*E[x],
    r2 = corr^2.  Spark carries no regr_* aggregates, but the normal
    equations need only sums/cross-products -- constant partial state,
    map-side combined, one shuffle of O(groups) rows (the oracle uses
    DuckDB's native regr_* to prove the derivation)."""
    li = read_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    slope = F.covar_pop(y, x) / F.var_pop(x)
    return li.groupBy("l_returnflag").agg(
        F.round(slope, 4).alias("slope"),
        F.round(F.avg(y) - slope * F.avg(x), 4).alias("intercept"),
        F.round(F.pow(F.corr(y, x), 2), 6).alias("r2"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Ratio-to-report (percent-of-total window)
# ---------------------------------------------------------------------------
@query(
    "nation_revenue_share",
    oracle="""
    WITH nat AS (
      SELECT r_name, n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation   ON n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      GROUP BY r_name, n_name
    )
    SELECT r_name, n_name, revenue,
           round(100.0 * revenue / sum(revenue) OVER (PARTITION BY r_name), 4)
             AS pct_of_region
    FROM nat
    """,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue
    via sum() over a partition window -- computed on the AGGREGATED
    (25-row) series, so the window is trivial; the data-sized work is
    the underlying star join, shuffled once on orderkey with all
    dimensions broadcast."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    from pyspark.sql.window import Window as W

    share = 100.0 * F.col("revenue") / F.sum("revenue").over(
        W.partitionBy("r_name")
    )
    return nat.select(
        "r_name", "n_name", "revenue", F.round(share, 4).alias("pct_of_region")
    )


# ---------------------------------------------------------------------------
# Forecast revenue change (TPC-H Q6 family)
# ---------------------------------------------------------------------------
@query(
    "forecast_revenue_change",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_delta,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    GROUP BY ALL
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue gained by eliminating small discounts on low-quantity
    orders in one year (Q6): a pure scan-filter-aggregate -- every
    predicate pushes into the parquet scan, no join, one partial
    aggregate, a single row over the final exchange.  The simplest
    shape in the suite and the purest pushdown test."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue_delta"
            ),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Priority shipping distribution (TPC-H Q12 family, adapted)
# ---------------------------------------------------------------------------
@query(
    "priority_shipping_dist",
    oracle="""
    SELECT l_linestatus,
           count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_priority_items,
           count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_priority_items
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
)
def priority_shipping_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent vs non-urgent item counts per line status for one ship
    year (Q12's conditional-count-over-join shape, keyed on our
    schema's priority column).  The date range pushes into the
    lineitem scan before the orderkey shuffle join; the conditional
    counts fold into one aggregation pass."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_priority_items"),
            F.count(F.when(~high, 1)).alias("low_priority_items"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted statistics (quantity-weighted pricing)
# ---------------------------------------------------------------------------
@query(
    "weighted_price_stats",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
             AS qty_weighted_price,
           round(avg(l_extendedprice), 4) AS unweighted_avg_price,
           round(sum(l_quantity), 2)      AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def weighted_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag vs the
    unweighted mean -- weighted aggregates decompose into plain sums
    (sum(x*w)/sum(w)), so they partial-aggregate map-side like any
    sum; no special aggregate needed at any scale."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
            / F.sum("l_quantity"),
            4,
        ).alias("qty_weighted_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("unweighted_avg_price"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# National market share (TPC-H Q8 family)
# ---------------------------------------------------------------------------
@query(
    "market_share",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           round(sum(CASE WHEN s_nat = 'NATION_1'
                          THEN volume ELSE 0 END) / sum(volume), 6)
             AS mkt_share,
           round(sum(volume), 2)          AS total_volume
    FROM (
      SELECT o.o_orderdate,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             sn.n_name                              AS s_nat
      FROM lineitem l
      JOIN orders   o  ON l.l_orderkey = o.o_orderkey
      JOIN customer c  ON o.o_custkey  = c.c_custkey
      JOIN nation   cn ON c.c_nationkey = cn.n_nationkey
      JOIN region   r  ON cn.n_regionkey = r.r_regionkey
      JOIN supplier s  ON l.l_suppkey  = s.s_suppkey
      JOIN nation   sn ON s.s_nationkey = sn.n_nationkey
      JOIN part     p  ON l.l_partkey  = p.p_partkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
    ) GROUP BY 1
    """,
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): the fraction of
    AMERICA-region PROMO-part revenue supplied by NATION_1, by order
    year.  The share is a conditional-sum / sum ratio inside one
    aggregation, so the whole query is a star join plus a single
    partial-aggregating pass: part (filtered), supplier, both nation
    copies and region broadcast; only lineitem<->orders shuffles.
    The p_type and r_name filters prune the broadcast sides before
    the fact join ever sees them."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("s_nat")
    )
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    p = read_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "s_nat",
        )
    )
    nation_volume = F.sum(
        F.when(F.col("s_nat") == "NATION_1", F.col("volume")).otherwise(0.0)
    )
    return joined.groupBy("o_year").agg(
        F.round(nation_volume / F.sum("volume"), 6).alias("mkt_share"),
        F.round(F.sum("volume"), 2).alias("total_volume"),
    )


# ---------------------------------------------------------------------------
# Equi-width histogram (single-pass distribution profile)
# ---------------------------------------------------------------------------
_HIST_W = 25_000


@query(
    "histogram_totalprice",
    oracle=f"""
    SELECT CAST(least(floor(o_totalprice / {_HIST_W}), 19) AS BIGINT) AS bucket,
           CAST(least(floor(o_totalprice / {_HIST_W}), 19) * {_HIST_W} AS BIGINT)
             AS bucket_lo,
           count(*)                       AS n_orders,
           round(avg(o_totalprice), 2)    AS avg_price
    FROM orders GROUP BY 1, 2
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (20 x 25k buckets, last
    bucket open-ended): the single-pass distribution profile used for
    sizing decisions (salt counts, bucket boundaries, AQE thresholds).
    Bucketing is a narrow arithmetic map feeding an ordinary partial
    aggregation on a 20-value key -- the profile of a 100 TB column
    costs exactly one scan, no window, no sort."""
    o = read_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / _HIST_W), F.lit(19))
    return (
        o.select(
            bucket.alias("bucket"),
            (bucket * _HIST_W).cast("bigint").alias("bucket_lo"),
            "o_totalprice",
        )
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# Zone map (data-skipping statistics per key range)
# ---------------------------------------------------------------------------
_ZONE_W = 5_000


@query(
    "zone_map_lineitem",
    oracle=f"""
    SELECT CAST(floor(l_orderkey / {_ZONE_W}) AS BIGINT) AS zone,
           count(*)                     AS n_rows,
           min(l_shipdate)              AS min_shipdate,
           max(l_shipdate)              AS max_shipdate,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY 1
    """,
)
def zone_map_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone map over the fact table: per key-range zone, row count and
    min/max of the filter columns -- the data-skipping index that lets
    a 100 TB scan drop whole zones when a predicate falls outside
    [min, max] (what Parquet row-group stats / Delta file stats do,
    materialized as a queryable table for planning and monitoring).
    One partial-aggregating scan; maintenance under append is
    per-new-zone incremental.  Pairs with operators/scale.py::
    read_pruned, which demonstrates the same idea at directory
    granularity via PartitionFilters."""
    li = read_table(spark, sf_dir, "lineitem")
    zone = F.floor(F.col("l_orderkey") / _ZONE_W).cast("bigint")
    return (
        li.select(
            zone.alias("zone"), "l_shipdate", "l_extendedprice"
        )
        .groupBy("zone")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_shipdate").alias("min_shipdate"),
            F.max("l_shipdate").alias("max_shipdate"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# Winsorized statistics (percentile-clipped robust mean)
# ---------------------------------------------------------------------------
@query(
    "winsorized_pricing",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS p05,
             quantile_cont(l_extendedprice, 0.95) AS p95
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           count(*)                                   AS n_rows,
           round(avg(l.l_extendedprice), 4)           AS raw_mean,
           round(avg(least(greatest(l.l_extendedprice, q.p05), q.p95)), 4)
             AS winsorized_mean,
           round(q.p05, 4)                            AS p05,
           round(q.p95, 4)                            AS p95
    FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
    GROUP BY l.l_returnflag, q.p05, q.p95
    """,
)
def winsorized_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (percentile-clipped) mean price per return flag --
    the robust-statistics cleaning step that tames heavy tails before
    training on a numeric feature.  Two passes: exact per-group p05/
    p95 (both engines interpolate linearly on the sorted column),
    then the handful of group bounds BROADCAST back onto the fact
    scan for clip-and-average -- the fact table shuffles once for the
    percentile aggregation and streams through the second pass
    map-side.  At 100 TB swap the exact percentiles for
    sketch_quantile_hist's histogram estimates, same join shape."""
    li = read_table(spark, sf_dir, "lineitem")
    # ONE array-argument percentile: a separate aggregate per
    # percentage buffers and sorts every group's values once per
    # expression; the fused form pays the sort once and returns
    # identical doubles (guide §1.2 "per-task work").
    q = li.groupBy("l_returnflag").agg(
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.05), F.lit(0.95))
        ).alias("pq")
    ).select(
        "l_returnflag",
        F.element_at("pq", 1).alias("p05"),
        F.element_at("pq", 2).alias("p95"),
    )
    clipped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95")
    )
    return (
        li.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag", "p05", "p95")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.avg("l_extendedprice"), 4).alias("raw_mean"),
            F.round(F.avg(clipped), 4).alias("winsorized_mean"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            "raw_mean",
            "winsorized_mean",
            F.round("p05", 4).alias("p05"),
            F.round("p95", 4).alias("p95"),
        )
    )


# ---------------------------------------------------------------------------
# Winsorized statistics, sketch form (ONE fact pass via histogram cells)
# ---------------------------------------------------------------------------
_WA_LO = 0.0  # l_extendedprice domain lower bound
_WA_W = 1_000  # bin width
_WA_BINS = 128  # covers [900, 105k] with headroom

_WA_CELL = (
    f"CAST(least(floor((l_extendedprice - {_WA_LO}) / {_WA_W}), "
    f"{_WA_BINS - 1}) AS BIGINT)"
)

_WA_SQL = f"""
    WITH cells AS (
      SELECT l_returnflag,
             {_WA_CELL} AS cell,
             count(*) AS c,
             sum(l_extendedprice) AS s
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, cell, c, s,
             coalesce(sum(c) OVER (PARTITION BY l_returnflag ORDER BY cell
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cum_before,
             sum(c) OVER (PARTITION BY l_returnflag) AS n,
             sum(s) OVER (PARTITION BY l_returnflag) AS total_s
      FROM cells
    ),
    b05 AS (
      SELECT cum.l_returnflag,
             {_WA_LO} + cum.cell * {_WA_W}
               + {_WA_W} * (CAST(0.05 AS DOUBLE) * cum.n - cum.cum_before) / cum.c AS p05
      FROM (SELECT l_returnflag, min(cell) AS cell FROM cum
            WHERE cum_before + c >= CAST(0.05 AS DOUBLE) * n GROUP BY 1) h
      JOIN cum ON cum.l_returnflag = h.l_returnflag AND cum.cell = h.cell
    ),
    b95 AS (
      SELECT cum.l_returnflag,
             {_WA_LO} + cum.cell * {_WA_W}
               + {_WA_W} * (CAST(0.95 AS DOUBLE) * cum.n - cum.cum_before) / cum.c AS p95
      FROM (SELECT l_returnflag, min(cell) AS cell FROM cum
            WHERE cum_before + c >= CAST(0.95 AS DOUBLE) * n GROUP BY 1) h
      JOIN cum ON cum.l_returnflag = h.l_returnflag AND cum.cell = h.cell
    )
    SELECT cum.l_returnflag,
           CAST(max(cum.n) AS BIGINT) AS n_rows,
           round(max(cum.total_s / cum.n), 4) AS raw_mean,
           round(sum(cum.c * least(greatest(cum.s / cum.c, b05.p05), b95.p95))
                 / max(cum.n), 4) AS winsorized_mean_approx,
           round(max(b05.p05), 4) AS approx_p05,
           round(max(b95.p95), 4) AS approx_p95
    FROM cum
    JOIN b05 ON cum.l_returnflag = b05.l_returnflag
    JOIN b95 ON cum.l_returnflag = b95.l_returnflag
    GROUP BY cum.l_returnflag
"""


@query("winsorized_pricing_approx", oracle=_WA_SQL)
def winsorized_pricing_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean price per return flag in ONE fact pass -- the
    100-TB form winsorized_pricing's docstring promises.  The only
    scan partial-aggregates (count, sum) into <= {bins} equi-width
    price cells per group (sketch_quantile_hist's fixed-bin
    discipline); p05/p95 are then interpolated from the cell table
    and the winsorized mean estimated by clamping each cell's MEAN to
    the bounds -- every post-scan step (cumulative walk, bound probe,
    clip) runs over <= #groups x {bins} rows, so the fact table is
    read exactly once however large it gets.  Deterministic given the
    fixed bins, so the DuckDB oracle states the identical
    computation.  Exact-form twin: winsorized_pricing (two passes);
    the rel-err at sf0.1 is ~0.1% of the exact winsorized mean."""
    from pyspark.sql.window import Window

    li = read_table(spark, sf_dir, "lineitem")
    cell = F.least(
        F.floor((F.col("l_extendedprice") - _WA_LO) / _WA_W),
        F.lit(_WA_BINS - 1),
    ).cast("bigint")
    cells = (
        li.select("l_returnflag", cell.alias("cell"), "l_extendedprice")
        .groupBy("l_returnflag", "cell")
        .agg(F.count("*").alias("c"), F.sum("l_extendedprice").alias("s"))
    )
    # Bounds via window functions over the one cell table -- NO self-
    # joins: every re-reference of a DataFrame branch would re-derive
    # the fact scan in the physical plan (Spark reuses nothing across
    # logical branches without an explicit materialization), turning
    # "one pass" into five.  Windows keep it literally one scan; the
    # single-scan property is pinned by tests/test_scale.py.
    wg = Window.partitionBy("l_returnflag")
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("cell")
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    def est(q: float) -> F.Column:
        return (
            F.lit(_WA_LO)
            + F.col("cell") * _WA_W
            + _WA_W * (F.lit(q) * F.col("n") - F.col("cum_before"))
            / F.col("c")
        )

    def hit_cell(q: float) -> F.Column:
        reaches = F.col("cum_before") + F.col("c") >= F.lit(q) * F.col("n")
        return F.min(F.when(reaches, F.col("cell"))).over(wg)

    def bound_at(q: float, hit_col: str) -> F.Column:
        return F.max(
            F.when(F.col("cell") == F.col(hit_col), est(q))
        ).over(wg)

    cum = (
        cells.withColumn("cum_before", F.coalesce(F.sum("c").over(wc), F.lit(0)))
        .withColumn("n", F.sum("c").over(wg))
        .withColumn("total_s", F.sum("s").over(wg))
        .withColumn("hit05", hit_cell(0.05))
        .withColumn("hit95", hit_cell(0.95))
    )
    bounded = cum.withColumn("p05", bound_at(0.05, "hit05")).withColumn(
        "p95", bound_at(0.95, "hit95")
    )
    clipped_bin_mean = F.least(
        F.greatest(F.col("s") / F.col("c"), F.col("p05")), F.col("p95")
    )
    return bounded.groupBy("l_returnflag").agg(
        F.max("n").alias("n_rows"),
        F.round(F.max(F.col("total_s") / F.col("n")), 4).alias("raw_mean"),
        F.round(
            F.sum(F.col("c") * clipped_bin_mean) / F.max("n"), 4
        ).alias("winsorized_mean_approx"),
        F.round(F.max("p05"), 4).alias("approx_p05"),
        F.round(F.max("p95"), 4).alias("approx_p95"),
    )


winsorized_pricing_approx.__doc__ = winsorized_pricing_approx.__doc__.format(
    bins=_WA_BINS
)


# ---------------------------------------------------------------------------
# Cohort lifetime-value triangle
# ---------------------------------------------------------------------------


@query(
    "cohort_ltv_triangle",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey, min(o_orderdate) AS first_dt
      FROM orders GROUP BY 1
    )
    SELECT year(f.first_dt) AS cohort_year,
           year(o.o_orderdate) - year(f.first_dt) AS order_age_years,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue,
           count(DISTINCT o.o_custkey) AS active_customers
    FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
)
def cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value triangle: acquisition cohort (year of
    first order) x order age (years since acquisition) -> orders,
    revenue, active customers.  The classic LTV/retention matrix
    finance reads diagonally; complements events_cohort_retention
    (which tracks activity, not value).

    Scale: the first-order date is one partial-agg pass keyed on
    customer; joining it back is a shuffle join co-partitioned on the
    SAME key the aggregate just produced (Catalyst reuses the
    partitioning -- no second exchange of the fact side), and the
    triangle itself aggregates to |cohorts| x |ages| rows."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    f = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    return (
        o.join(f, "o_custkey")
        .groupBy(
            F.year("first_dt").alias("cohort_year"),
            (F.year("o_orderdate") - F.year("first_dt")).alias(
                "order_age_years"
            ),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.countDistinct("o_custkey").alias("active_customers"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonality index
# ---------------------------------------------------------------------------


@query(
    "orders_seasonality",
    oracle="""
    WITH m AS (
      SELECT month(o_orderdate) AS month,
             count(*) AS n_orders,
             sum(o_totalprice) AS rev
      FROM orders GROUP BY 1
    ), t AS (
      SELECT CAST(sum(n_orders) AS BIGINT) AS total_n, sum(rev) AS total_rev
      FROM m
    )
    SELECT month, n_orders,
           round(rev, 2) AS revenue,
           round(rev / total_rev * 12.0, 4) AS seasonality_idx
    FROM m, t
    """,
)
def orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index: each calendar month's share of
    annual revenue scaled by 12, so 1.0 = a perfectly flat month --
    the multiplicative seasonal factor a demand forecast divides out
    before trend fitting (forecast_revenue_change's companion).

    Scale: one partial-agg pass to 12 rows; the grand total is a
    second tiny aggregation over those 12 rows (NOT a second fact
    scan) broadcast back as a 1-row bound."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    m = o.groupBy(F.month("o_orderdate").alias("month")).agg(
        F.count("*").alias("n_orders"),
        F.sum("o_totalprice").alias("rev"),
    )
    m = m.localCheckpoint(eager=False)  # 12 rows; total derives from them
    t = m.agg(
        F.sum("n_orders").cast("bigint").alias("total_n"),
        F.sum("rev").alias("total_rev"),
    )
    return m.join(F.broadcast(t)).select(
        "month",
        "n_orders",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.col("total_rev") * F.lit(12.0), 4).alias(
            "seasonality_idx"
        ),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (deterministic, hash-seeded)
# ---------------------------------------------------------------------------
_BOOT_B = 32
# P(Poisson(1) <= k), k = 0..5; identical literals in both engines.
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t!r} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE {len(_POIS_CDF)} END"


_BOOT_P = 1_000_000_007  # affine-hash modulus (same family as minhash)


@query(
    "bootstrap_ci",
    oracle=rf"""
    WITH hashed AS (
      SELECT o_totalprice,
             ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
             )::BIGINT % {_BOOT_P} AS h
      FROM orders
    ),
    reps AS (
      SELECT o_totalprice, r.i AS rep,
             CAST(((((104729 * r.i + 976369) % {_BOOT_P}) * h
                    + ((15485863 * r.i + 32452843) % {_BOOT_P}))
                   % {_BOOT_P}) AS DOUBLE) / {float(_BOOT_P)!r} AS u
      FROM hashed, (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS i) r
    ),
    weighted AS (
      SELECT rep, o_totalprice, {_pois_case_sql("u")} AS w FROM reps
    ),
    ests AS (
      SELECT rep, sum(w * o_totalprice) / sum(w) AS est
      FROM weighted GROUP BY rep
    ),
    ranked AS (SELECT list_sort(list(est)) AS es FROM ests)
    SELECT {_BOOT_B} AS n_replicas,
           (SELECT round(avg(o_totalprice), 2) FROM orders) AS full_mean,
           round(es[2], 2) AS boot_lo,
           round(es[{_BOOT_B - 1}], 2) AS boot_hi,
           round(list_avg(es), 2) AS boot_mean
    FROM ranked
    """,
)
def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for the mean order value -- the
    distributed-bootstrap trick (Chamandy et al. / Kleiner et al.
    line of work): instead of resampling N rows WITH replacement
    (impossible to coordinate across partitions), each row draws an
    independent Poisson(1) replication weight per replica, which
    approximates multinomial resampling as N grows.  Every weight is
    a pure hash of (orderkey, replica) pushed through the exact
    Poisson(1) inverse CDF -- no RNG state, so the interval is
    bit-reproducible under any partitioning, retry, or speculative
    re-execution (the only sound way to randomize at 100 TB).  The
    row hashes md5 ONCE; per-replica uniforms are affine universal
    hashes of that value (the same cost trick as the integer
    minhash), so hashing cost is independent of B.

    The CI is read off fixed ORDER STATISTICS of the {b} replica
    means (2nd smallest / 2nd largest ~ a 94% interval at B={b}),
    never an interpolated percentile -- interpolation rules differ
    across engines.  Plan shape: one fan-out of {b} weights per row
    (map-side, no shuffle), one partial-aggregating groupBy over {b}
    keys, then a {b}-row sort on the driver side of the plan."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    # ONE md5 per row; the B per-replica uniforms derive from cheap
    # affine transforms of it (the minhash trick) -- 1/Bth the hash
    # cost of md5-per-(row, replica), measured 9.4 -> ~1.5 s at sf0.1.
    hashed = o.select(
        "o_totalprice",
        (
            F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % _BOOT_P
        ).alias("h"),
    )
    reps = hashed.select(
        "o_totalprice",
        "h",
        F.explode(
            F.sequence(F.lit(0), F.lit(_BOOT_B - 1))
        ).alias("rep"),
    )
    a = (F.lit(104729) * F.col("rep") + F.lit(976369)) % _BOOT_P
    b = (F.lit(15485863) * F.col("rep") + F.lit(32452843)) % _BOOT_P
    u = ((a * F.col("h") + b) % _BOOT_P).cast("double") / F.lit(
        float(_BOOT_P)
    )
    w = F.lit(len(_POIS_CDF))
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(w)
    ests = (
        reps.select("rep", "o_totalprice", w.alias("w"))
        .groupBy("rep")
        .agg(
            (
                F.sum(F.col("w") * F.col("o_totalprice")) / F.sum("w")
            ).alias("est")
        )
    )
    full = o.agg(F.round(F.avg("o_totalprice"), 2).alias("full_mean"))
    ranked = ests.agg(
        F.sort_array(F.collect_list("est")).alias("es"),
        F.round(F.avg("est"), 2).alias("boot_mean"),
    )
    return ranked.crossJoin(F.broadcast(full)).select(
        F.lit(_BOOT_B).alias("n_replicas"),
        "full_mean",
        F.round(F.element_at("es", 2), 2).alias("boot_lo"),
        F.round(F.element_at("es", _BOOT_B - 1), 2).alias("boot_hi"),
        "boot_mean",
    )


bootstrap_ci.__doc__ = bootstrap_ci.__doc__.format(b=_BOOT_B)


# ---------------------------------------------------------------------------
# Revenue concentration: binned Lorenz curve (Pareto analysis)
# ---------------------------------------------------------------------------
_LORENZ_BIN = 20_000.0  # revenue units per bin


@query(
    "lorenz_curve_revenue",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey, sum(o_totalprice) AS rev
      FROM orders GROUP BY o_custkey
    ),
    bins AS (
      SELECT CAST(floor(rev / {_LORENZ_BIN}) AS BIGINT) AS bin,
             count(*) AS n_customers,
             round(sum(rev), 2) AS bin_revenue
      FROM cust GROUP BY 1
    ),
    tot AS (SELECT sum(n_customers) AS nc, sum(bin_revenue) AS tr FROM bins)
    SELECT b.bin, b.n_customers, b.bin_revenue,
           CAST(sum(b.n_customers) OVER w AS BIGINT) AS cum_customers,
           round(CAST(sum(b.n_customers) OVER w AS DOUBLE) / t.nc, 6)
               AS cum_cust_frac,
           round(sum(b.bin_revenue) OVER w / t.tr, 6) AS cum_rev_share
    FROM bins b, tot t
    WINDOW w AS (ORDER BY b.bin DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def lorenz_curve_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto / Lorenz) curve: customers
    binned by lifetime revenue, cumulated from the richest bin down
    -- read off "the top x% of customers hold y% of revenue" at bin
    granularity.  The whale-accounting query every marketplace runs.

    Scale: the ONLY per-customer work is one partial-aggregating
    shuffle (custkey rollup); ranking individual customers globally
    would need a full sort, so concentration is reported at fixed
    VALUE-bin granularity instead -- the bin table is bounded by
    max(revenue)/bin_width regardless of customer count, so the
    cumulative window runs over a provably tiny frame (the same
    bound-the-ordered-set trick as sketch_quantile_hist), never over
    data-scale rows."""
    cust = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    bins = cust.groupBy(
        F.floor(F.col("rev") / _LORENZ_BIN).cast("bigint").alias("bin")
    ).agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("rev"), 2).alias("bin_revenue"),
    )
    tot = bins.agg(
        F.sum("n_customers").alias("nc"), F.sum("bin_revenue").alias("tr")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_customers",
        "bin_revenue",
        F.sum("n_customers").over(w).cast("bigint").alias("cum_customers"),
        F.round(
            F.sum("n_customers").over(w).cast("double") / F.col("nc"), 6
        ).alias("cum_cust_frac"),
        F.round(F.sum("bin_revenue").over(w) / F.col("tr"), 6).alias(
            "cum_rev_share"
        ),
    )


# ---------------------------------------------------------------------------
# Inter-arrival analysis: gaps between a customer's consecutive orders
# ---------------------------------------------------------------------------
@query(
    "order_interarrival",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
             date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS gap_days
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT CAST(gap_days // 30 AS BIGINT) AS gap_month_bucket,
           count(*) AS n_gaps,
           CAST(min(gap_days) AS BIGINT) AS min_days,
           CAST(max(gap_days) AS BIGINT) AS max_days
    FROM g WHERE gap_days IS NOT NULL
    GROUP BY 1
    """,
)
def order_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer inter-arrival distribution: day gaps between each
    customer's consecutive orders, bucketed by month -- the purchase-
    cadence profile that feeds churn models and dormancy thresholds
    (dormant_rich_customers' 90-day cutoff comes from exactly this
    curve).

    Scale: one window PARTITION BY customer (per-entity, never
    global; a hot customer bounds a task at their own order count),
    then a partial-aggregating rollup onto a bounded bucket key.
    Ties on order date break on the order key in both engines."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return g.groupBy(
        F.expr("gap_days div 30").cast("bigint").alias("gap_month_bucket")
    ).agg(
        F.count("*").alias("n_gaps"),
        F.min("gap_days").cast("bigint").alias("min_days"),
        F.max("gap_days").cast("bigint").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier retention curve (right-censored survival analysis)
# ---------------------------------------------------------------------------
_KM_CENSOR_MIN = 60  # sessions ending in the stream's last hour are censored


@query(
    "retention_kaplan_meier",
    oracle=f"""
    WITH t AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 3600000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM t
    ),
    life AS (
      SELECT epoch_us(max(ts)) // 60000000 - epoch_us(min(ts)) // 60000000
                 AS dur,
             CASE WHEN max(ts) >= (SELECT max(ts) FROM events)
                                  - INTERVAL {{_KM_CENSOR_MIN}} MINUTES
                  THEN 1 ELSE 0 END AS censored
      FROM s GROUP BY user_id, session_id
    ),
    durs AS (
      SELECT dur, count(*) AS n_dur,
             sum(1 - censored) AS d
      FROM life GROUP BY dur
    ),
    at_risk AS (
      SELECT dur, d,
             sum(n_dur) OVER (ORDER BY dur DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS n
      FROM durs
    )
    SELECT CAST(dur AS BIGINT) AS minute, CAST(d AS BIGINT) AS n_ended,
           CAST(n AS BIGINT) AS n_at_risk,
           round(CASE WHEN max(CASE WHEN d = n THEN 1 ELSE 0 END) OVER w = 1
                      THEN 0.0
                      ELSE exp(sum(CASE WHEN d < n
                                        THEN ln(1.0 - CAST(d AS DOUBLE) / n)
                                   END) OVER w)
                 END, 4) AS survival
    FROM at_risk WHERE d > 0
    WINDOW w AS (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """.replace("{_KM_CENSOR_MIN}", str(_KM_CENSOR_MIN)),
)
def retention_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of SESSION duration with RIGHT
    CENSORING: a session's lifetime is minutes from first to last
    event; sessions still running into the stream's final
    {c} minutes are censored (they keep informing the at-risk
    denominator without counting as an ended session) -- the
    estimator product S(t) = prod(1 - d_t/n_t), the statistically
    correct duration curve under an incomplete observation window
    (naive "share longer than t" is biased short near the window
    edge).

    Scale: sessionization is Spark's native session_window (one
    shuffle keyed by user); ended/at-risk counts collapse onto the
    DURATION-minute key (bounded by the max session length, NOT by
    session count), so the at-risk reverse cumsum and the running
    product -- stated as exp of a running sum of logs, identically in
    both engines -- run over a provably tiny ordered set."""
    from pyspark.sql.window import Window

    e = read_events(spark, sf_dir)
    bound = e.agg(F.max("ts").alias("maxts"))
    life = (
        e.groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.min("ts").alias("st"), F.max("ts").alias("en"))
        .crossJoin(F.broadcast(bound))
        .select(
            (
                F.floor(F.unix_micros("en") / 60_000_000)
                - F.floor(F.unix_micros("st") / 60_000_000)
            ).alias("dur"),
            F.when(
                F.col("en")
                >= F.col("maxts") - F.expr(f"INTERVAL {_KM_CENSOR_MIN} MINUTES"),
                1,
            )
            .otherwise(0)
            .alias("censored"),
        )
    )
    durs = life.groupBy("dur").agg(
        F.count("*").alias("n_dur"),
        F.sum(F.lit(1) - F.col("censored")).alias("d"),
    )
    w_rev = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = durs.select(
        "dur", "d", F.sum("n_dur").over(w_rev).alias("n")
    )
    w_fwd = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        at_risk.select(
            F.col("dur").cast("bigint").alias("minute"),
            F.col("d").cast("bigint").alias("n_ended"),
            F.col("n").cast("bigint").alias("n_at_risk"),
            # the final duration has d == n (factor 0): carry an
            # explicit zero flag instead of ln(0)
            F.round(
                F.when(
                    F.max(
                        F.when(F.col("d") == F.col("n"), 1).otherwise(0)
                    ).over(w_fwd)
                    == 1,
                    F.lit(0.0),
                ).otherwise(
                    F.exp(
                        F.sum(
                            F.when(
                                F.col("d") < F.col("n"),
                                F.log(
                                    F.lit(1.0)
                                    - F.col("d").cast("double") / F.col("n")
                                ),
                            )
                        ).over(w_fwd)
                    )
                ),
                4,
            ).alias("survival"),
        )
        .filter(F.col("n_ended") > 0)
    )


retention_kaplan_meier.__doc__ = retention_kaplan_meier.__doc__.format(
    c=_KM_CENSOR_MIN
)


# ---------------------------------------------------------------------------
# A/B test analysis: two-proportion z-test over hash-assigned arms
# ---------------------------------------------------------------------------
@query(
    "ab_test_zscore",
    oracle="""
    WITH arms AS (
      SELECT user_id,
             CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
                       )::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             max(CASE WHEN event_type = 'purchase' AND value > 150.0
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT arm, count(*) AS n, sum(converted) AS conv
      FROM arms GROUP BY arm
    ),
    wide AS (
      SELECT max(CASE WHEN arm = 'A' THEN n END) AS n_a,
             max(CASE WHEN arm = 'A' THEN conv END) AS c_a,
             max(CASE WHEN arm = 'B' THEN n END) AS n_b,
             max(CASE WHEN arm = 'B' THEN conv END) AS c_b
      FROM s
    )
    SELECT n_a, CAST(c_a AS BIGINT) AS c_a, n_b, CAST(c_b AS BIGINT) AS c_b,
           round(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
           round(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
           round((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                 / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 4) AS z_score,
           CASE WHEN abs((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                 / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b))) >= 1.96
                THEN 1 ELSE 0 END AS significant_95
    FROM wide
    """,
)
def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: users hash-assigned to two arms (the same
    deterministic assignment discipline as sample_hash_split -- no
    RNG, so retries/backfills cannot move a user between arms),
    per-user conversion = any high-value purchase (> 150), and the pooled
    two-proportion z-test with the 1.96 two-sided significance gate
    -- the statistics every experimentation platform computes.

    Scale: one per-user aggregate (conversion collapses map-side),
    one 2-row arm rollup, then driver-scale arithmetic: the z-score
    is written as one expression over exact integer counts, so both
    engines evaluate bit-identical IEEE operations in the same
    order."""
    e = read_events(spark, sf_dir)
    from .sketches import _h60

    arms = (
        e.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 150.0),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select(
            F.when(
                _h60(F.col("user_id").cast("string")) % 2 == 0, "A"
            ).otherwise("B").alias("arm"),
            "converted",
        )
    )
    s = arms.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    wide = s.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("c_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("c_b"),
    )
    ra = F.col("c_a").cast("double") / F.col("n_a")
    rb = F.col("c_b").cast("double") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (ra - rb) / F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return wide.select(
        "n_a",
        F.col("c_a").cast("bigint").alias("c_a"),
        "n_b",
        F.col("c_b").cast("bigint").alias("c_b"),
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 4).alias("z_score"),
        F.when(F.abs(z) >= 1.96, 1).otherwise(0).alias("significant_95"),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection over the daily event-value series
# ---------------------------------------------------------------------------
_CUSUM_K = 0.5  # slack, in global-stddev units
_CUSUM_H = 4.0  # decision threshold, in global-stddev units


@query(
    "cusum_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, round(avg(value), 6) AS v
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT round(avg(v), 6) AS mu, round(stddev_pop(v), 6) AS sd
      FROM daily
    ),
    z AS (
      SELECT day, v, (v - mu) / sd AS zv FROM daily, stats
    ),
    rec0 AS (
      SELECT day, v,
             sum(zv - {_CUSUM_K}) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_run
      FROM z
    ),
    rec AS (
      SELECT day, v,
             greatest(0.0, s_run - min(least(0.0, s_run)) OVER (
               ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum_hi
      FROM rec0
    )
    SELECT CAST(day AS VARCHAR) AS day, round(v, 4) AS daily_avg,
           round(cusum_hi, 4) AS cusum_hi,
           CASE WHEN cusum_hi > {_CUSUM_H} THEN 1 ELSE 0 END AS alarm
    FROM rec
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM control chart over the daily mean event value: the
    one-sided upper cumulative sum C_t = max(0, C_(t-1) + z_t - k),
    alarming when C_t exceeds h -- the classic sequential
    change-point detector (Page 1954) behind drift monitors.

    The recursive max(0, ...) scan is rewritten as a WINDOW-ALGEBRA
    identity: C_t = S_t - min(0, S_1..S_t) where S is the plain
    running sum of (z - k) -- the reset-at-zero recursion equals
    subtracting the running minimum of the prefix sums (both engines
    state the identical two-window form; the same rewrite family as
    events_ewma's band self-join).  All windows run over the DAILY
    series (bounded by the calendar, not event volume); raw events
    collapse to one row per day in the first partial-aggregating
    shuffle."""
    from pyspark.sql.window import Window

    e = read_events(spark, sf_dir)
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.avg("value"), 6).alias("v")
    )
    stats = daily.agg(
        F.round(F.avg("v"), 6).alias("mu"),
        F.round(F.stddev_pop("v"), 6).alias("sd"),
    )
    z = daily.crossJoin(F.broadcast(stats)).select(
        "day", "v", ((F.col("v") - F.col("mu")) / F.col("sd")).alias("zv")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s_run = F.sum(F.col("zv") - F.lit(_CUSUM_K)).over(w)
    rec = z.select("day", "v", s_run.alias("s_run"))
    cusum = F.greatest(
        F.lit(0.0),
        F.col("s_run")
        - F.min(F.least(F.lit(0.0), F.col("s_run"))).over(w),
    )
    return rec.select(
        F.col("day").cast("string").alias("day"),
        F.round("v", 4).alias("daily_avg"),
        F.round(cusum, 4).alias("cusum_hi"),
        F.when(cusum > _CUSUM_H, 1).otherwise(0).alias("alarm"),
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence (status x priority)
# ---------------------------------------------------------------------------
@query(
    "chi_square_independence",
    oracle="""
    WITH obs AS (
      SELECT o_orderstatus AS s, o_orderpriority AS p, count(*) AS o
      FROM orders GROUP BY 1, 2
    ),
    rows_ AS (SELECT s, sum(o) AS rs FROM obs GROUP BY s),
    cols_ AS (SELECT p, sum(o) AS cs FROM obs GROUP BY p),
    tot AS (SELECT sum(o) AS n FROM obs),
    cells AS (
      SELECT o.s, o.p, o.o,
             CAST(r.rs AS DOUBLE) * c.cs / t.n AS e
      FROM obs o JOIN rows_ r ON r.s = o.s
                 JOIN cols_ c ON c.p = o.p
                 CROSS JOIN tot t
    )
    SELECT CAST((SELECT count(*) FROM rows_) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM cols_) AS BIGINT) AS n_cols,
           CAST(((SELECT count(*) FROM rows_) - 1)
                * ((SELECT count(*) FROM cols_) - 1) AS BIGINT) AS dof,
           round(sum((o - e) * (o - e) / e), 4) AS chi2
    FROM cells
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between order status
    and priority: observed cell counts vs the products-of-marginals
    expectation, sum (O-E)^2/E with (r-1)(c-1) degrees of freedom --
    the categorical-association readout behind every segmentation
    sanity check ("does priority mix differ by status?").

    Scale: one partial-aggregating shuffle builds the contingency
    cells; marginals derive from the already-tiny cell table; the
    statistic is one fold over r x c rows.  Expected counts are a
    single double expression over exact integers, evaluated in the
    same order by both engines."""
    obs = (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("s"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count("*").alias("o"))
        .localCheckpoint()
    )
    rows_ = obs.groupBy("s").agg(F.sum("o").alias("rs"))
    cols_ = obs.groupBy("p").agg(F.sum("o").alias("cs"))
    tot = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(rows_), "s")
        .join(F.broadcast(cols_), "p")
        .crossJoin(F.broadcast(tot))
        .select(
            "o",
            (
                F.col("rs").cast("double") * F.col("cs") / F.col("n")
            ).alias("e"),
        )
    )
    nr = rows_.count()
    nc = cols_.count()
    return cells.agg(
        F.lit(nr).cast("bigint").alias("n_rows"),
        F.lit(nc).cast("bigint").alias("n_cols"),
        F.lit((nr - 1) * (nc - 1)).cast("bigint").alias("dof"),
        F.round(
            F.sum(
                (F.col("o") - F.col("e"))
                * (F.col("o") - F.col("e"))
                / F.col("e")
            ),
            4,
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation of the daily revenue series (ACF diagnostics)
# ---------------------------------------------------------------------------
_ACF_MAX_LAG = 7


@query(
    "revenue_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderdate AS d, sum(o_totalprice) AS rev
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT rev,
             {', '.join(f'lag(rev, {i}) OVER (ORDER BY d) AS rev_l{i}' for i in range(1, 8))}
      FROM daily
    )
    {' UNION ALL '.join(
        f"SELECT {i} AS lag_d, round(corr(rev, rev_l{i}), 6) AS acf, "
        f"count(rev_l{i}) AS n_pairs FROM lagged"
        for i in range(1, 8)
    )}
    """,
)
def revenue_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily-revenue series at lags
    1..{maxlag} -- the seasonality/momentum diagnostic run before any
    forecasting model (weekly cadence shows up as a lag-7 spike).

    The data-sized work is one groupBy(day); every window and corr
    then runs on the AGGREGATED series (one row per day -- thousands
    of rows at any corpus size, since the calendar does not grow with
    the data).  Lags come from {maxlag} lag() columns over the day
    order, stacked to (lag, x, x_lag) pairs with one explode, then a
    per-lag corr() aggregate; pairs with no lag-partner drop out via
    corr's null handling, matching the per-arm counts in the oracle's
    unioned form."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    w = Window.partitionBy().orderBy("d")
    lagged = daily.select(
        "rev",
        *[F.lag("rev", i).over(w).alias(f"rev_l{i}") for i in range(1, _ACF_MAX_LAG + 1)],
    )
    stacked = lagged.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("lag_d"),
                        F.col("rev").alias("x"),
                        F.col(f"rev_l{i}").alias("x_lag"),
                    )
                    for i in range(1, _ACF_MAX_LAG + 1)
                ]
            )
        ).alias("t")
    ).select("t.lag_d", "t.x", "t.x_lag")
    return stacked.groupBy("lag_d").agg(
        F.round(F.corr("x", "x_lag"), 6).alias("acf"),
        F.count("x_lag").alias("n_pairs"),
    )


revenue_autocorrelation.__doc__ = revenue_autocorrelation.__doc__.format(
    maxlag=_ACF_MAX_LAG
)


# ---------------------------------------------------------------------------
# Seasonal decomposition of the daily revenue series (trend + weekly effect)
# ---------------------------------------------------------------------------
@query(
    "revenue_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS rev
      FROM orders GROUP BY 1
    ),
    trended AS (
      SELECT d, rev,
             avg(rev) OVER (ORDER BY d
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
             count(*) OVER (ORDER BY d
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS span
      FROM daily
    )
    SELECT (d - DATE '1970-01-01') % 7 AS dow,
           round(avg(rev - trend), 2) AS dow_effect,
           round(stddev_pop(rev - trend), 2) AS dow_sd,
           count(*) AS n_days
    FROM trended WHERE span = 7
    GROUP BY 1
    """,
)
def revenue_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily revenue series:
    trend = centered 7-day moving average, weekly seasonal effect =
    mean detrended revenue per day-of-week (with its spread) -- the
    companion to revenue_autocorrelation that turns "there is a lag-7
    spike" into "Mondays run +X above trend".

    The data-sized work is one groupBy(day); the moving average and
    the detrending run on the AGGREGATED one-row-per-day series
    (calendar-sized, not data-sized), and edge days without a full
    7-day window are excluded (span = 7) so the trend is never a
    partial average.  Day-of-week is computed as epoch-days mod 7 --
    engine-neutral, immune to locale/week-start conventions."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    w = Window.partitionBy().orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        "rev",
        F.avg("rev").over(w).alias("trend"),
        F.count("*").over(w).alias("span"),
    ).filter(F.col("span") == 7)
    return trended.groupBy(
        (F.datediff(F.col("d"), F.lit("1970-01-01")) % 7).alias("dow")
    ).agg(
        F.round(F.avg(F.col("rev") - F.col("trend")), 2).alias("dow_effect"),
        F.round(F.stddev_pop(F.col("rev") - F.col("trend")), 2).alias("dow_sd"),
        F.count("*").alias("n_days"),
    )


# ---------------------------------------------------------------------------
# Distribution drift monitor: PSI between two time periods
# ---------------------------------------------------------------------------
_PSI_BIN_W = 50_000  # fixed-width price bins (deterministic, data-free)
_PSI_BINS = 10
_PSI_CUTOFF = "1997-01-01"


@query(
    "drift_psi",
    oracle=f"""
    WITH binned AS (
      SELECT least(CAST(floor(o_totalprice / {_PSI_BIN_W}) AS BIGINT),
                   {_PSI_BINS - 1}) AS bin,
             (o_orderdate < DATE '{_PSI_CUTOFF}') AS is_a
      FROM orders
    ),
    counts AS (
      SELECT bin,
             count(*) FILTER (WHERE is_a)     AS n_a,
             count(*) FILTER (WHERE NOT is_a) AS n_b
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM counts
    )
    SELECT bin,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           round(((n_a + 0.5) / (ta + {_PSI_BINS} * 0.5)
                  - (n_b + 0.5) / (tb + {_PSI_BINS} * 0.5))
                 * ln(((n_a + 0.5) / (ta + {_PSI_BINS} * 0.5))
                      / ((n_b + 0.5) / (tb + {_PSI_BINS} * 0.5))), 6)
             AS psi_contrib
    FROM counts, tot
    """,
)
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two time periods of the
    order-price distribution -- the standard ML-monitoring drift
    readout ("has the feature distribution my model was trained on
    shifted?").  Per fixed-width bin: period counts and the smoothed
    PSI contribution (pa - pb) * ln(pa / pb); the total PSI is the sum
    over bins (>0.2 conventionally flags actionable drift).  Bins are
    a data-free fixed grid and the smoothing (+0.5 per bin) keeps
    empty bins finite, so the statistic is deterministic and
    mergeable: per-partition bin counts are partial-aggregable, and
    day-over-day monitoring unions count states, never raw rows.

    Scale shape: one fact scan, one {_PSI_BINS}-group aggregate (map-side
    combine), the totals broadcast back as a 1-row frame -- the same
    bounded-histogram discipline as histogram_totalprice /
    winsorized_pricing_approx."""
    o = read_table(spark, sf_dir, "orders")
    binned = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / _PSI_BIN_W).cast("bigint"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
        (F.col("o_orderdate") < F.lit(_PSI_CUTOFF).cast("date")).alias(
            "is_a"
        ),
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("is_a"), 1)).alias("n_a"),
        F.count(F.when(~F.col("is_a"), 1)).alias("n_b"),
    )
    return psi_readout(counts, _PSI_BINS)


# Mergeable drift state over the event stream (streaming twin support)
_EPSI_BIN_W = 50
_EPSI_BINS = 10
_EPSI_CUTOFF = "2024-01-15"


def drift_counts_frame(events: DataFrame) -> DataFrame:
    """Mergeable PSI drift state over events: per fixed value-bin, the
    reference-period (pre-cutoff) and live-period counts.  Purely
    additive -- two states merge by summing counts -- which is what
    lets the streaming twin (streaming/jobs.py::psi_drift_stream)
    maintain it incrementally and what makes day-over-day monitoring a
    union of count states, never a rescan."""
    return (
        events.select(
            F.least(
                F.floor(F.col("value") / _EPSI_BIN_W).cast("bigint"),
                F.lit(_EPSI_BINS - 1),
            ).alias("bin"),
            (F.col("ts") < F.lit(_EPSI_CUTOFF).cast("timestamp")).alias(
                "is_a"
            ),
        )
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("is_a"), 1)).alias("n_a"),
            F.count(F.when(~F.col("is_a"), 1)).alias("n_b"),
        )
    )


def psi_readout(counts: DataFrame, n_bins: int) -> DataFrame:
    """PSI contributions from a (bin, n_a, n_b) count state -- the
    shared finalize step of the batch drift_psi query and the
    streaming state table (smoothing +0.5 per bin keeps empty bins
    finite; the 1-row totals frame broadcasts)."""
    tot = counts.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    sm = n_bins * 0.5
    pa = (F.col("n_a") + 0.5) / (F.col("ta") + sm)
    pb = (F.col("n_b") + 0.5) / (F.col("tb") + sm)
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_a",
        "n_b",
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_contrib"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test (integer-exact ECDF gap)
# ---------------------------------------------------------------------------
@query(
    "drift_ks_two_sample",
    oracle=r"""
    WITH s AS (
      SELECT CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS v,
             (CAST(substring(source, 4) AS BIGINT) % 2 = 0) AS grp_a
      FROM documents
    ),
    counts AS (
      SELECT v,
             CAST(sum(CASE WHEN grp_a THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
             CAST(sum(CASE WHEN NOT grp_a THEN 1 ELSE 0 END) AS BIGINT)
               AS b_cnt
      FROM s GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a,
             CAST(sum(b_cnt) AS BIGINT) AS n_b
      FROM counts
    ),
    cum AS (
      SELECT v,
             CAST(sum(a_cnt) OVER (ORDER BY v) AS BIGINT) AS ca,
             CAST(sum(b_cnt) OVER (ORDER BY v) AS BIGINT) AS cb
      FROM counts
    )
    SELECT t.n_a, t.n_b,
           CAST(max(abs(ca * t.n_b - cb * t.n_a)) AS BIGINT) AS d_num,
           round(max(abs(ca * t.n_b - cb * t.n_a))
                 / CAST(t.n_a * t.n_b AS DOUBLE), 6) AS ks_stat,
           min(CASE WHEN abs(ca * t.n_b - cb * t.n_a) =
                    (SELECT max(abs(c2.ca * t.n_b - c2.cb * t.n_a))
                     FROM cum c2)
               THEN v END) AS at_value
    FROM cum, tot t GROUP BY t.n_a, t.n_b
    """,
)
def drift_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the document
    length distributions of two source cohorts (even- vs odd-numbered
    sources): the maximum ECDF gap, the classic distribution-equality
    test next to ``drift_psi``'s binned divergence -- KS needs no
    binning choice and is sensitive anywhere in the distribution.

    Exactness: the gap is carried as the INTEGER numerator
    |ca*n_b - cb*n_a| (cross-multiplied ECDFs), so the argmax and its
    location are engine-identical; the only float is one division on
    identical operands, rounded for display.  The at_value tie-break
    is the smallest length achieving the max.

    Scale: one hash aggregate per distinct VALUE (token count), then
    a cumulative window over the value DOMAIN -- bounded by max
    document length, not corpus size (the legitimate unpartitioned
    window, like seqlen_histogram's bucket table; a billion-doc
    corpus still has only ~1e5 distinct lengths).  For continuous
    metrics, pre-bucket to a fixed grid first (drift_psi's bins)."""
    return ks_readout(ks_counts_frame(read_table(spark, sf_dir, "documents")))

def ks_counts_frame(docs: DataFrame) -> DataFrame:
    """Mergeable KS drift state: per distinct value (token count), the
    two cohorts' counts (v, a_cnt, b_cnt).  Purely additive -- states
    merge by summing per value -- which is what lets the streaming
    twin (streaming/jobs.py::ks_drift_stream) maintain it
    incrementally; the readout below finalizes from the state alone."""
    return (
        docs.select(
            F.size(F.split(F.lower(F.col("text")), r"\s+"))
            .cast("bigint")
            .alias("v"),
            (F.substring("source", 4, 10).cast("bigint") % 2 == 0).alias(
                "grp_a"
            ),
        )
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("grp_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("a_cnt"),
            F.sum(F.when(~F.col("grp_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("b_cnt"),
        )
    )


def ks_readout(counts: DataFrame) -> DataFrame:
    """KS finalize from a (v, a_cnt, b_cnt) count state: cumulative
    ECDFs over the value domain, integer cross-multiplied gap, argmax
    with smallest-value tie-break.  Shared by the batch query and the
    streaming state table."""
    from pyspark.sql.window import Window as _W

    tot = counts.agg(
        F.sum("a_cnt").cast("bigint").alias("n_a"),
        F.sum("b_cnt").cast("bigint").alias("n_b"),
    )
    w = _W.orderBy("v").rowsBetween(_W.unboundedPreceding, 0)
    cum = counts.select(
        "v",
        F.sum("a_cnt").over(w).cast("bigint").alias("ca"),
        F.sum("b_cnt").over(w).cast("bigint").alias("cb"),
    )
    j = cum.join(F.broadcast(tot)).select(
        "n_a",
        "n_b",
        "v",
        F.abs(
            F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")
        ).alias("dnum"),
    )
    return (
        j.groupBy("n_a", "n_b")
        .agg(
            F.max("dnum").cast("bigint").alias("d_num"),
            F.round(
                F.max("dnum")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("ks_stat"),
            F.max(
                F.struct(
                    F.col("dnum").alias("d"), (-F.col("v")).alias("nv")
                )
            ).alias("mx"),
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            "ks_stat",
            (-F.col("mx.nv")).alias("at_value"),
        )
    )


# ---------------------------------------------------------------------------
# 2-D skyline / Pareto frontier via a distributed prefix-max scan
# ---------------------------------------------------------------------------
@query(
    "skyline_parts",
    oracle="""
    WITH p AS (
      SELECT l_partkey,
             CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS price_cents,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS val_cents
      FROM lineitem GROUP BY 1
    ),
    lvl AS (
      SELECT price_cents,
             -(max(struct_pack(v := val_cents, np := -l_partkey)).np)
               AS l_partkey,
             max(val_cents) AS val_cents
      FROM p GROUP BY 1
    )
    SELECT l_partkey, price_cents, val_cents
    FROM (
      SELECT *, coalesce(max(val_cents) OVER (ORDER BY price_cents
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), -1) AS pm
      FROM lvl
    ) t WHERE val_cents > pm
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts over (cheapest observed
    offer ASC-better, total discounted revenue DESC-better): a part is
    on the frontier iff no part is both cheaper and higher-revenue --
    the multi-criteria shortlist query (cheapest-but-popular parts)
    OLAP engines ship as SKYLINE OF.

    Shape: dominance among equal prices keeps only the best-revenue
    part per price level (struct-max with partkey tie-break), which
    makes the price a UNIQUE scan key; the frontier test is then
    ``val > exclusive prefix-max of val over strictly cheaper
    levels`` -- computed by operators/prefix.exclusive_cummax, the
    three-level hierarchical MAX scan, so no unpartitioned window
    ever sees the full level table (the DuckDB oracle states the same
    semantics with the naive global window, making this a
    differential test of the scan itself).  All quantities are exact
    BIGINT cents.

    Scale: one fact aggregate, one per-price-level reduction, then
    the bounded 3-level scan + filter -- O(levels) state per task at
    any corpus size; d>2 skylines recurse the same scan per added
    dimension or fall back to the bitonic block partition."""
    from ..operators.prefix import exclusive_cummax

    li = read_table(spark, sf_dir, "lineitem")
    p = (
        li.select(
            "l_partkey",
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("pc"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("vc"),
        )
        .groupBy("l_partkey")
        .agg(
            F.min("pc").alias("price_cents"),
            F.sum("vc").cast("bigint").alias("val_cents"),
        )
    )
    lvl = p.groupBy("price_cents").agg(
        F.max_by(
            F.col("l_partkey"),
            F.struct(F.col("val_cents"), (-F.col("l_partkey")).alias("np")),
        ).alias("l_partkey"),
        F.max("val_cents").alias("val_cents"),
    )
    scanned = exclusive_cummax(lvl, "price_cents", "val_cents", out="pm", floor=-1)
    return scanned.filter(F.col("val_cents") > F.col("pm")).select(
        "l_partkey", "price_cents", "val_cents"
    )


# ---------------------------------------------------------------------------
# Running record detector (all-time highs, prefix-max scan)
# ---------------------------------------------------------------------------
@query(
    "orders_running_record",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_orderdate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             (CAST(epoch_ms(o_orderdate) AS BIGINT) // 86400000)
               * 1099511627776 + o_orderkey AS k
      FROM orders
    )
    SELECT o_orderkey, o_orderdate, price_cents
    FROM (
      SELECT *, coalesce(max(price_cents) OVER (ORDER BY k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                 AS pm
      FROM o
    ) t WHERE price_cents > pm
    """,
)
def orders_running_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-time-high detector: the orders that broke the running
    record for total price in (order date, order key) arrival order
    -- the "largest order ever, as of then" feed a monitoring page
    shows.  An order is a record iff it exceeds the exclusive prefix
    max of everything that arrived before it.

    The scan key packs (epoch day, order key) into one BIGINT (day *
    2^40 + key -- day counts are ~1e4, keys below 2^40 by contract),
    and the prefix max is operators/prefix.exclusive_cummax -- the
    hierarchical scan, so the record pass never funnels the order
    history through one reducer; the oracle states the identical
    semantics with DuckDB's naive global window (second differential
    test of the scan after skyline_parts, this time on a data-scale
    input with a sparse key).  Record rows are rare (O(log n) for
    exchangeable arrivals), so the output is tiny at any scale."""
    from ..operators.prefix import exclusive_cummax

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
            "price_cents"
        ),
        (
            F.floor(
                F.unix_timestamp(
                    F.col("o_orderdate").cast("timestamp")
                ) / F.lit(86400)
            )
            * F.lit(1099511627776)
            + F.col("o_orderkey")
        ).alias("k"),
    )
    return (
        exclusive_cummax(o, "k", "price_cents", out="pm", floor=-1)
        .filter(F.col("price_cents") > F.col("pm"))
        .select("o_orderkey", "o_orderdate", "price_cents")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend: aggregate to a bounded series, then exact stats
# ---------------------------------------------------------------------------
@query(
    "theil_sen_trend",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY mo) - 1 AS t FROM monthly
    ),
    pairs AS (
      SELECT a.t AS t1, b.t AS t2, b.cents - a.cents AS dy, b.t - a.t AS dx
      FROM idx a JOIN idx b ON b.t > a.t
    ),
    ranked AS (
      SELECT dy, dx, t1, t2,
             ROW_NUMBER() OVER (ORDER BY dy / CAST(dx AS DOUBLE), t1, t2)
               AS rn,
             count(*) OVER () AS cnt
      FROM pairs
    ),
    med AS (
      SELECT dy AS med_dy, dx AS med_dx, cnt
      FROM ranked WHERE rn = (cnt + 1) // 2
    ),
    resid AS (
      SELECT i.cents - (m.med_dy * i.t) // m.med_dx AS r, i.t
      FROM idx i, med m
    ),
    rr AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r, t) AS rn,
             count(*) OVER () AS cnt
      FROM resid
    )
    SELECT CAST((SELECT count(*) FROM idx) AS BIGINT) AS n_months,
           CAST(m.cnt AS BIGINT) AS n_pairs,
           m.med_dy, CAST(m.med_dx AS BIGINT) AS med_dx,
           round(m.med_dy / CAST(m.med_dx AS DOUBLE) / 100.0, 4)
             AS slope_per_month,
           CAST((SELECT r FROM rr WHERE rn = (cnt + 1) // 2) AS BIGINT)
             AS intercept_cents
    FROM med m
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust revenue trend: the Theil-Sen estimator (median of all
    pairwise slopes, then median residual as intercept) over the
    monthly revenue series -- the outlier-proof alternative to OLS
    when a promo month or an ingestion gap would drag the
    least-squares line.

    This is the AGGREGATE-FIRST discipline for superlinear
    statistics at 100 TB: the O(n^2) pairwise step never touches the
    fact table -- orders reduce to one bounded series (months), and
    all quadratic work runs on that ~80-row frame, where even a
    broadcast self-join is trivial.  Every window below is over the
    bounded series/pairs, never over fact-scale input.

    Exactness across engines: slopes are ratios of BIGINTs ordered
    by an identical IEEE double division (same integer inputs ->
    same doubles, ties broken on the pair index), the LOWER median
    is selected by rank (deterministic for even counts), and the
    intercept uses floored-integer arithmetic on the selected
    (dy, dx) -- the only float in the output is the display slope."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("mo"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    idx = monthly.select(
        "cents",
        (F.row_number().over(Window.orderBy("mo")) - 1).alias("t"),
    ).localCheckpoint(eager=True)  # bounded series reused by 3 branches
    a = idx.select(F.col("t").alias("t1"), F.col("cents").alias("c1"))
    b = idx.select(F.col("t").alias("t2"), F.col("cents").alias("c2"))
    pairs = a.join(F.broadcast(b), F.col("t2") > F.col("t1")).select(
        "t1",
        "t2",
        (F.col("c2") - F.col("c1")).alias("dy"),
        (F.col("t2") - F.col("t1")).alias("dx"),
    )
    wslope = Window.orderBy(
        F.col("dy") / F.col("dx").cast("double"), F.col("t1"), F.col("t2")
    )
    ranked = pairs.select(
        "dy",
        "dx",
        F.row_number().over(wslope).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("cnt"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(cnt + 1) div 2")
    ).select(
        F.col("dy").alias("med_dy"),
        F.col("dx").cast("bigint").alias("med_dx"),
        F.col("cnt").cast("bigint").alias("n_pairs"),
    )
    resid = idx.join(F.broadcast(med)).select(
        (
            F.col("cents") - F.expr("(med_dy * t) div med_dx")
        ).alias("r"),
        "t",
    )
    wr = Window.orderBy("r", "t")
    intercept = (
        resid.select(
            "r",
            F.row_number().over(wr).alias("rn"),
            F.count("*").over(Window.partitionBy()).alias("cnt"),
        )
        .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select(F.col("r").cast("bigint").alias("intercept_cents"))
    )
    n_months = idx.agg(F.count("*").cast("bigint").alias("n_months"))
    return (
        med.join(F.broadcast(n_months))
        .join(F.broadcast(intercept))
        .select(
            "n_months",
            "n_pairs",
            "med_dy",
            "med_dx",
            F.round(
                F.col("med_dy") / F.col("med_dx").cast("double") / 100.0, 4
            ).alias("slope_per_month"),
            "intercept_cents",
        )
    )


# ---------------------------------------------------------------------------
# Exact median via 2-round histogram narrowing (distributed selection)
# ---------------------------------------------------------------------------
_SEL_BINS = 256


@query(
    "exact_median_2pass",
    oracle="""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      FROM lineitem
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                 CAST((count(*) + 1) // 2 AS BIGINT) AS target_rank
          FROM v)
    SELECT n.n_rows, n.target_rank,
           (SELECT max(c) FROM (SELECT c FROM v ORDER BY c
                                LIMIT (SELECT target_rank FROM n)))
             AS median_cents
    FROM n
    """,
)
def exact_median_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median of line revenue without a global sort: the
    classic distributed selection algorithm -- histogram-narrowing
    rounds until the bucket holding the target rank is one value wide.
    Round 1 bins all values into {b} equi-width buckets over
    [min, max] and finds the bucket containing the target rank; round
    2 re-bins ONLY that bucket's 1/{b} of the range, and so on.  The
    DuckDB oracle states the ground truth directly (the rank-th
    smallest value), so the hash match proves the narrowing algorithm
    selects the exact element -- not an approximation like the
    quantile sketch family.

    Scale shape: each round is ONE map-side-combinable histogram
    aggregation (a <= {b}-row result) whose rows the driver reads to
    pick the bucket, bounds and residual rank for the next round's
    literals, so nothing sorts and no stage shuffles more than the
    histogram: ceil(log_{b}(max - min + 1)) rounds at any scale.  The
    count, the target rank and the bounds come from one aggregation;
    the one-row answer lands as a local relation.  All arithmetic
    BIGINT.  Core:
    operators/selection.py::rank_select (shared with
    trimmed_mean_exact, which resolves TWO ranks in the same
    passes)."""
    from ..operators.selection import rank_select

    li = read_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c")
    ).localCheckpoint(eager=True)  # scanned once per round, not per branch

    n = v.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.expr("(count(*) + 1) div 2").cast("bigint").alias("target_rank"),
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
    ).first()
    sel = rank_select(v, {"median": n.target_rank}, (n.lo, n.hi), bins=_SEL_BINS)
    return local_frame(
        spark,
        [(n.n_rows, n.target_rank, sel["median"])] if sel else [],
        "n_rows bigint, target_rank bigint, median_cents bigint",
    )


exact_median_2pass.__doc__ = exact_median_2pass.__doc__.format(b=_SEL_BINS)


_TRIM_PCT = 10  # drop the lowest and highest 10% of rows


@query(
    "trimmed_mean_exact",
    oracle=f"""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      FROM lineitem
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(*) * {_TRIM_PCT} // 100 AS BIGINT) AS k_trim
          FROM v),
    kept AS (
      SELECT c FROM v ORDER BY c
      LIMIT (SELECT n_rows - 2 * k_trim FROM n)
      OFFSET (SELECT k_trim FROM n)
    )
    SELECT (SELECT n_rows FROM n) AS n_rows,
           (SELECT k_trim FROM n) AS k_trim,
           CAST(count(*) AS BIGINT) AS kept_rows,
           CAST(sum(c) AS BIGINT) AS kept_cents,
           round(CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / count(*), 4)
             AS trimmed_mean_cents
    FROM kept
    """,
)
def trimmed_mean_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT {p}%-trimmed mean of line revenue -- the robust location
    estimate that drops exactly the k lowest and k highest ROWS
    (k = {p}% of n) before averaging, the textbook definition rather
    than a value-threshold approximation.  The oracle states the
    ground truth as ORDER BY / LIMIT / OFFSET, so the hash match
    proves the distributed form reproduces row-exact trimming,
    including tie handling at both cut points.

    Both trim ranks resolve in the SAME histogram-narrowing passes
    (operators/selection.py::rank_select with two rank queries sharing
    each round's histogram) -- selecting the second order statistic
    is free.  The final pass is one conditional aggregation against
    the cut values as literals; ties AT the cut values are kept by
    rank arithmetic (count(c <= lo_val) - k copies of lo_val, and
    symmetrically at the top), not by a lossy value filter.  Every
    quantity up to the final division is BIGINT-exact, so the one
    emitted float divides identical integers in both engines.
    Assumes lo_val < hi_val (holds whenever the trimmed range spans
    more than one distinct value; a degenerate all-equal corpus would
    double-count the shared cut value)."""
    from ..operators.selection import rank_select

    li = read_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c")
    ).localCheckpoint(eager=True)

    st = v.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.expr(f"count(*) * {_TRIM_PCT} div 100").cast("bigint").alias("k_trim"),
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
    ).first()
    n_rows, k_trim = st.n_rows, st.k_trim
    cuts = rank_select(
        v, {"lo": k_trim + 1, "hi": n_rows - k_trim}, (st.lo, st.hi), bins=_SEL_BINS
    )
    if len(cuts) < 2:  # no rows
        return local_frame(
            spark,
            [],
            "n_rows bigint, k_trim bigint, kept_rows bigint,"
            " kept_cents bigint, trimmed_mean_cents double",
        )
    lo_val, hi_val = F.lit(cuts["lo"]), F.lit(cuts["hi"])
    agg = v.agg(
        F.sum(
            F.when((F.col("c") > lo_val) & (F.col("c") < hi_val), F.col("c"))
            .otherwise(F.lit(0))
        ).cast("bigint").alias("strict_sum"),
        F.sum(F.when(F.col("c") <= lo_val, 1).otherwise(0))
        .cast("bigint").alias("cnt_le_lo"),
        F.sum(F.when(F.col("c") < hi_val, 1).otherwise(0))
        .cast("bigint").alias("cnt_lt_hi"),
    )
    kept_cents = (
        F.col("strict_sum")
        + lo_val * (F.col("cnt_le_lo") - k_trim)
        + hi_val * (F.lit(n_rows - k_trim) - F.col("cnt_lt_hi"))
    )
    kept_rows = F.lit(n_rows - 2 * k_trim).cast("bigint")
    return agg.select(
        F.lit(n_rows).cast("bigint").alias("n_rows"),
        F.lit(k_trim).cast("bigint").alias("k_trim"),
        kept_rows.alias("kept_rows"),
        kept_cents.cast("bigint").alias("kept_cents"),
        F.round(
            kept_cents.cast("double") / kept_rows.cast("double"), 4
        ).alias("trimmed_mean_cents"),
    )


trimmed_mean_exact.__doc__ = trimmed_mean_exact.__doc__.format(p=_TRIM_PCT)


# ---------------------------------------------------------------------------
# Regression influence diagnostics (leverage + Cook's distance)
# ---------------------------------------------------------------------------
_INFL_TOP = 15

# Shared SQL fragments: the float formulas are stated ONCE and parsed
# by both engines, so operator shape/precedence (hence IEEE rounding)
# is identical -- every input below the divide is an exact integer.
_INFL_DERIVED = (
    ("nd", "CAST(n AS DOUBLE)"),
    ("sxd", "CAST(sx AS DOUBLE)"),
    ("sxxd", "CAST(sxx AS DOUBLE)"),
    ("syd", "CAST(sy AS DOUBLE)"),
    ("sxyd", "CAST(sxy AS DOUBLE)"),
    ("b", "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
          " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
          " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"),
)
_INFL_A = "(syd - b * sxd) / nd"
_INFL_SSE = "syyd - a * syd - b * sxyd"
_INFL_SXXC = "sxxd - sxd * sxd / nd"
_INFL_E = "CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))"
_INFL_H = "1.0 / nd + (CAST(x AS DOUBLE) - sxd / nd)" \
          " * (CAST(x AS DOUBLE) - sxd / nd) / sxxc"
_INFL_D = "e * e * h / (2.0 * (sse / (nd - 2.0)) * (1.0 - h) * (1.0 - h))"


@query(
    "influence_diagnostics",
    oracle=f"""
    WITH v AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS DOUBLE) AS syyd
      FROM v
    ),
    d AS (
      SELECT *, {', '.join(f'{sql} AS {name}' for name, sql in _INFL_DERIVED)}
      FROM s
    ),
    d2 AS (SELECT *, {_INFL_A} AS a FROM d),
    d3 AS (SELECT *, {_INFL_SSE} AS sse, {_INFL_SXXC} AS sxxc FROM d2),
    scored AS (
      SELECT v.l_orderkey, v.l_linenumber, v.x, v.y, eh.e, eh.h, d3.*
      FROM v CROSS JOIN d3
      CROSS JOIN LATERAL (
        SELECT {_INFL_E} AS e, {_INFL_H} AS h
      ) eh
    )
    SELECT l_orderkey, l_linenumber,
           x AS quantity, y AS price_cents,
           round(e, 4) AS residual_cents,
           round(h, 8) AS leverage,
           round({_INFL_D}, 8) AS cooks_d
    FROM scored
    ORDER BY {_INFL_D} DESC, l_orderkey, l_linenumber
    LIMIT {_INFL_TOP}
    """,
)
def influence_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row OLS influence diagnostics for data cleaning: fit
    price ~ quantity once from sufficient statistics, then score
    EVERY row's leverage h_i = 1/n + (x_i - mean)^2/Sxx and Cook's
    distance D_i = e_i^2 h_i / (p s^2 (1-h_i)^2), surfacing the
    top-{k} most influential observations -- the rows that, removed,
    would move the fit most (mislabeled-point screening; complements
    the value-only outlier_mad quarantine, which cannot distinguish a
    benign extreme x from a fit-distorting one).

    Exactness discipline: all five sufficient statistics are
    BIGINT-exact integer sums (quantities and price cents); sum(y^2)
    alone exceeds int64 at scale, so it accumulates in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB) -- both exact -- before ONE cast to
    double.  Every float expression is a shared SQL string parsed by
    both engines, so the doubles agree bit-for-bit and the top-{k}
    cut is stable (ties broken by the unique line key).

    Scale shape: one map-side-combinable aggregation (constant
    state), a 1-row broadcast of the fit, one scoring scan, and a
    TakeOrdered top-{k} -- no shuffle of data-scale rows at all.
    """
    li = read_table(spark, sf_dir, "lineitem")
    v = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    s = v.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
        F.sum(
            F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        ).cast("double").alias("syyd"),
    )
    d = s.select("*", *[F.expr(sql).alias(name) for name, sql in _INFL_DERIVED])
    d2 = d.select("*", F.expr(_INFL_A).alias("a"))
    d3 = d2.select(
        "*", F.expr(_INFL_SSE).alias("sse"), F.expr(_INFL_SXXC).alias("sxxc")
    )
    scored = (
        v.crossJoin(F.broadcast(d3))
        .withColumn("e", F.expr(_INFL_E))
        .withColumn("h", F.expr(_INFL_H))
    )
    return (
        scored.orderBy(
            F.expr(_INFL_D).desc(), "l_orderkey", "l_linenumber"
        )
        .limit(_INFL_TOP)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("x").alias("quantity"),
            F.col("y").alias("price_cents"),
            F.round(F.col("e"), 4).alias("residual_cents"),
            F.round(F.col("h"), 8).alias("leverage"),
            F.round(F.expr(_INFL_D), 8).alias("cooks_d"),
        )
    )


influence_diagnostics.__doc__ = influence_diagnostics.__doc__.format(
    k=_INFL_TOP
)


@query(
    "exact_deciles",
    oracle="""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      FROM lineitem
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM v),
    r AS (
      SELECT CAST(k AS BIGINT) AS decile,
             CAST((n_rows * k + 9) // 10 AS BIGINT) AS target_rank
      FROM n, range(1, 10) t(k)
    ),
    o AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v)
    SELECT r.decile, r.target_rank, o.c AS value_cents
    FROM r JOIN o ON o.rn = r.target_rank
    ORDER BY r.decile
    """,
)
def exact_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT decile grid of line revenue in the SAME number of passes
    as a single median: rank_select resolves all nine order
    statistics at once because every histogram round bins each
    distinct candidate range once -- the per-round cost is one
    map-side-combinable aggregation whose result is <= 9 x bins rows,
    regardless of how many quantiles ride along.  This is the exact
    counterpart of the sketch_quantile_hist family: where the sketch
    trades error bounds for one pass, this pays ~3 scans for
    exactness -- the periodic calibration job a 100-TB pipeline
    runs to validate its sketches.  The oracle brute-forces a global
    row_number sort, proving each returned value IS the ceil(k*n/10)
    order statistic."""
    from ..operators.selection import rank_select

    li = read_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c")
    ).localCheckpoint(eager=True)

    st = v.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
    ).first()
    ranks = {str(k): (st.n_rows * k + 9) // 10 for k in range(1, 10)}
    sel = rank_select(v, ranks, (st.lo, st.hi), bins=_SEL_BINS)
    return local_frame(
        spark,
        [(int(q), ranks[q], sel[q]) for q in ranks if q in sel],
        "decile bigint, target_rank bigint, value_cents bigint",
    )


@query(
    "weighted_median_delay",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS priority,
             CAST(date_diff('day', CAST(o_orderdate AS DATE),
                            CAST(l_shipdate AS DATE)) AS BIGINT) AS c,
             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    t AS (
      SELECT priority, CAST(sum(w) AS BIGINT) AS total_weight_cents,
             CAST((sum(w) + 1) // 2 AS BIGINT) AS target_w
      FROM v GROUP BY priority
    ),
    o AS (
      SELECT priority, c,
             sum(w) OVER (PARTITION BY priority ORDER BY c
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS runw
      FROM v
    )
    SELECT t.priority, t.total_weight_cents, t.target_w,
           (SELECT min(c) FROM o
            WHERE o.priority = t.priority AND o.runw >= t.target_w)
             AS median_delay_days
    FROM t ORDER BY t.priority
    """,
)
def weighted_median_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVENUE-weighted median ship delay per order priority: the
    number of days within which HALF THE REVENUE (not half the line
    items) has shipped -- the logistics SLO that matters when line
    values span orders of magnitude, where the unweighted median is
    dominated by cheap lines.  Exercises the grouped AND weighted
    modes of the shared selector together: one rank query per
    priority, ranks in revenue-cent units, all five groups resolved
    in the same histogram passes
    (operators/selection.py::rank_select with qid + weight).  The
    oracle brute-forces the per-group cumulative-weight window."""
    from ..operators.selection import rank_select

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    v = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_orderpriority").alias("qid"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).cast("bigint").alias("c"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint").alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    # min/max share the rank aggregation's per-group pass and feed
    # rank_select as its bounds
    t = v.groupBy("qid").agg(
        F.sum("w").cast("bigint").alias("total_weight_cents"),
        F.expr("(sum(w) + 1) div 2").cast("bigint").alias("rank"),
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
    ).collect()
    sel = rank_select(
        v,
        {r.qid: r.rank for r in t},
        {r.qid: (r.lo, r.hi) for r in t},
        bins=64,
        weight="w",
    )
    return local_frame(
        spark,
        sorted(
            (r.qid, r.total_weight_cents, r.rank, sel[r.qid])
            for r in t
            if r.qid in sel
        ),
        "priority string, total_weight_cents bigint, target_w bigint,"
        " median_delay_days bigint",
    )


# ---------------------------------------------------------------------------
# Rolling exact median of daily revenue (order-statistic smoothing)
# ---------------------------------------------------------------------------
_ROLLMED_YEAR = 1995
_ROLLMED_WIN = 7  # trailing window, in observed days


@query(
    "rolling_median_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT l_shipdate AS d,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem
      WHERE l_shipdate >= DATE '{_ROLLMED_YEAR}-01-01'
        AND l_shipdate <  DATE '{_ROLLMED_YEAR + 1}-01-01'
      GROUP BY 1
    )
    SELECT d, rev_cents,
           round(quantile_cont(rev_cents, 0.5) OVER (
                   ORDER BY d
                   ROWS BETWEEN {_ROLLMED_WIN - 1} PRECEDING
                            AND CURRENT ROW), 1) AS med_{_ROLLMED_WIN}d
    FROM daily
    """,
)
def rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median of daily shipped revenue over a trailing
    {win}-observed-day window ({year}) -- the robust smoother a
    revenue dashboard overlays when mean-based smoothing
    (events_ewma / events_trailing_7d shapes) chases single-day
    spikes: the median needs the window's order statistics, not a
    runnable sum, which is why engines treat it as a separate window
    class (no incremental-aggregate shortcut exists for exact
    medians).

    Scale: the fact table reduces to DAY grain in one scan (map-side
    combined, with the year filter pushed to the parquet scan); the
    rolling window then runs over <=365 rows.  Running an
    order-statistic window directly on fact rows would buffer the
    window per row at data scale -- reducing to the output grain
    FIRST is the pattern.  ROWS (observed days), not RANGE, so gap
    days widen the lookback deterministically in both engines."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(f"{_ROLLMED_YEAR}-01-01").cast("date"))
        & (
            F.col("l_shipdate")
            < F.lit(f"{_ROLLMED_YEAR + 1}-01-01").cast("date")
        )
    )
    daily = li.groupBy(F.col("l_shipdate").alias("d")).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("rev_cents")
    )
    from pyspark.sql.window import Window as W

    w = (
        W.orderBy("d").rowsBetween(-(_ROLLMED_WIN - 1), 0)
    )  # <=365-row frame after day-grain reduction
    return daily.select(
        "d",
        "rev_cents",
        F.round(
            F.expr("percentile(rev_cents, 0.5)").over(w), 1
        ).alias(f"med_{_ROLLMED_WIN}d"),
    )


rolling_median_revenue.__doc__ = rolling_median_revenue.__doc__.format(
    win=_ROLLMED_WIN, year=_ROLLMED_YEAR
)
