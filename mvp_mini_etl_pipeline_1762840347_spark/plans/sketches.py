"""Distributed cardinality / frequency sketches, built portable.

A 100 TB pipeline cannot afford exact COUNT(DISTINCT) or per-key
exact frequencies on every monitoring query; the standard answers are
KMV/theta sketches, HyperLogLog and Count-Min.  Spark ships opaque
engine-native versions (``approx_count_distinct``,
``hll_sketch_agg``, ``count_min_sketch``) whose binary state no other
engine reproduces -- so they could never be value-checked against the
DuckDB oracle.  These implementations make the sketch *algorithms*
first-class DataFrame plans instead:

* all hashing is md5 reduced to a 60-bit integer (identical bytes in
  Spark and DuckDB -- same trick as plans/dedup.py);
* every accumulation is exact integer arithmetic (min / max / sum of
  BIGINT, powers of two), so results are independent of partial-agg
  order and identical across engines;
* the single float division producing each estimate happens once, on
  one row, with both engines evaluating the same literal expression.

That gives real, scale-shaped sketch plans (map-side partial
aggregation into a tiny fixed-size state, one narrow shuffle) whose
output the driver can hash-compare exactly.

Generalizes the reference's exact distinct/count metrics -- the
Set-based `countries` distinct count and the filter-based valid/total
counts in buildMetrics (src/lib/users.js:65-79, the Set at :69) and
the analytics page's per-launch table render over the same loaded
rows (pages/analytics.js:25-36) -- to the approximate forms a 100 TB
corpus requires.

Scale notes
-----------
- KMV: per-partition top-K smallest hashes (TakeOrderedAndProject --
  no global sort), K rows into a 1-row agg.  State = K int64s.
- HLL: groupBy over at most 256 bucket rows after map-side partial
  max -- the shuffle carries <= 256 rows per upstream partition.
  State = 256 small ints; the estimate math is one row.
- CMS: the sketch is built from the exact per-key aggregate here
  (cheap at test SF and provably the same cells, since cell sums
  commute with pre-aggregation); at 100 TB you skip the exact pass
  and explode d rows per *input row* pre-shuffle, so the shuffle is
  on (j, cell) with at most d*w = 2048 distinct keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import local_frame, read_events, read_table
from .registry import query

# 60-bit hash space: 15 hex chars of md5.  Fits BIGINT with headroom.
_HASH_BITS = 60
_HASH_SPACE = float(1 << _HASH_BITS)  # 2^60, exact in double


def _h60(c: Column) -> Column:
    """md5 of the string form reduced to a 60-bit non-negative int;
    byte-identical to the oracle's ('0x' || substring(md5(x),1,15))."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def _h60_sql(expr: str) -> str:
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# KMV (k minimum values) distinct-count sketch
# ---------------------------------------------------------------------------
_KMV_K = 64

_KMV_SQL = rf"""
    WITH hashes AS (
      SELECT DISTINCT {_h60_sql("CAST(o_custkey AS VARCHAR)")} AS h
      FROM orders
    ),
    kmin AS (
      SELECT max(h) AS kth_hash, count(*) AS k
      FROM (SELECT h FROM hashes ORDER BY h LIMIT {_KMV_K})
    ),
    exact AS (SELECT count(DISTINCT o_custkey) AS exact_distinct FROM orders)
    SELECT kmin.k, kmin.kth_hash, exact.exact_distinct,
           round(({_KMV_K} - 1)
                 / (CAST(kmin.kth_hash AS DOUBLE) / {_HASH_SPACE!r}), 2)
               AS est_distinct,
           round(100.0 * (({_KMV_K} - 1)
                 / (CAST(kmin.kth_hash AS DOUBLE) / {_HASH_SPACE!r})
                 / exact.exact_distinct - 1.0), 2) AS rel_err_pct
    FROM kmin CROSS JOIN exact
"""


@query("sketch_kmv_distinct", oracle=_KMV_SQL)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k / theta) distinct-count sketch over
    orders.o_custkey: keep the K smallest distinct 60-bit hashes; the
    K-th smallest, as a fraction of the hash space, estimates density
    => distinct ~= (K-1) / (h_K / 2^60).

    Plan shape: hash projection -> hash-distinct (map-side partial)
    -> ``orderBy(h).limit(K)``, which Spark executes as
    TakeOrderedAndProject -- each partition keeps its own K smallest,
    only K rows per partition reach the single merge.  No global
    sort, no wide shuffle; the K retained int64s are also exactly the
    state a cross-dataset sketch MERGE would ship (union = merge the
    two bottom-K sets, keep the K smallest).

    The exact count rides along for the relative-error column -- at
    100 TB you would drop it; the sketch side alone never carries
    more than K rows past the scan."""
    o = read_table(spark, sf_dir, "orders")
    hashes = o.select(
        _h60(F.col("o_custkey").cast("string")).alias("h")
    ).distinct()
    kmin = (
        hashes.orderBy("h")
        .limit(_KMV_K)
        .agg(F.max("h").alias("kth_hash"), F.count("*").alias("k"))
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    est = F.lit(float(_KMV_K - 1)) / (
        F.col("kth_hash").cast("double") / F.lit(_HASH_SPACE)
    )
    return kmin.crossJoin(F.broadcast(exact)).select(
        "k",
        "kth_hash",
        "exact_distinct",
        F.round(est, 2).alias("est_distinct"),
        F.round(100.0 * (est / F.col("exact_distinct") - 1.0), 2).alias(
            "rel_err_pct"
        ),
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (portable, integer-exact state)
# ---------------------------------------------------------------------------
_HLL_M = 256  # 2^8 buckets
_HLL_WBITS = _HASH_BITS - 8  # 52 bits of rank material
# alpha_256 = 0.7213 / (1 + 1.079/256), precomputed so both engines
# use the same double literal instead of re-deriving it at runtime.
_HLL_ALPHA = 0.7182725932495458

def _hll_estimate(buckets: DataFrame) -> tuple[DataFrame, Column]:
    """The integer-exact HLL estimator over a (bucket, m_j) register
    table: returns the 1-row (n_buckets, m_max, sum_scaled) frame and
    the estimate Column (with small-range linear counting) to select
    from it.  Shared by the single-pass build and the register-merge
    path so the two provably run the identical arithmetic."""
    mm = buckets.agg(
        F.max("m_j").alias("m_max"), F.count("*").alias("n_buckets")
    )
    folded = (
        buckets.crossJoin(F.broadcast(mm))
        .groupBy("n_buckets", "m_max")
        .agg(
            F.sum(F.expr("shiftleft(cast(1 as bigint), m_max - m_j)"))
            .cast("bigint")
            .alias("sum_occupied")
        )
    )
    denom = folded.select(
        "n_buckets",
        "m_max",
        (
            F.col("sum_occupied")
            + (F.lit(_HLL_M) - F.col("n_buckets"))
            * F.expr("shiftleft(cast(1 as bigint), m_max)")
        ).cast("bigint").alias("sum_scaled"),
    )
    raw_est = (
        F.lit(_HLL_ALPHA)
        * F.lit(float(_HLL_M * _HLL_M))
        * F.pow(F.lit(2.0), F.col("m_max"))
        / F.col("sum_scaled")
    )
    est = F.when(
        (raw_est <= F.lit(2.5 * _HLL_M)) & (F.col("n_buckets") < _HLL_M),
        F.lit(float(_HLL_M))
        * F.log(
            F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("n_buckets"))
        ),
    ).otherwise(raw_est)
    return denom, est


_HLL_SQL = rf"""
    WITH h AS (
      SELECT {_h60_sql("CAST(o_custkey AS VARCHAR)")} AS h FROM orders
    ),
    buckets AS (
      SELECT h % {_HLL_M} AS bucket,
             max(CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                      ELSE {_HLL_WBITS + 1} - length(bin(h // {_HLL_M}))
                 END) AS m_j
      FROM h GROUP BY 1
    ),
    mm AS (SELECT max(m_j) AS m_max, count(*) AS n_buckets FROM buckets),
    folded AS (
      SELECT mm.n_buckets, mm.m_max,
             sum(1::BIGINT << (mm.m_max - b.m_j))::BIGINT AS sum_occupied
      FROM buckets b CROSS JOIN mm
      GROUP BY mm.n_buckets, mm.m_max
    ),
    denom AS (
      SELECT n_buckets, m_max,
             (sum_occupied
              + ({_HLL_M} - n_buckets) * (1::BIGINT << m_max))::BIGINT
                 AS sum_scaled
      FROM folded
    ),
    exact AS (SELECT count(DISTINCT o_custkey) AS exact_distinct FROM orders),
    est AS (
      SELECT n_buckets, m_max, sum_scaled,
             CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}.0
               * power(2.0, m_max) / sum_scaled AS raw_est
      FROM denom
    ),
    corrected AS (
      SELECT n_buckets, m_max, sum_scaled,
             CASE WHEN raw_est <= 2.5 * {_HLL_M} AND n_buckets < {_HLL_M}
                  THEN {_HLL_M}.0
                       * ln({_HLL_M}.0 / ({_HLL_M} - n_buckets))
                  ELSE raw_est
             END AS est
      FROM est
    )
    SELECT c.n_buckets, c.m_max, c.sum_scaled, exact.exact_distinct,
           round(c.est, 2) AS est_distinct,
           round(100.0 * (c.est / exact.exact_distinct - 1.0), 2)
               AS rel_err_pct
    FROM corrected c CROSS JOIN exact
"""


@query("sketch_hll_distinct", oracle=_HLL_SQL)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with integer-exact state: bucket = low 8 hash
    bits, rank rho = leading-zero count of the remaining 52 bits + 1
    (computed as 53 - bit_length via ``bin()`` -- exact in both
    engines, no floating log2).  Registers are max(rho) per bucket.

    The harmonic-mean denominator sum_j 2^-M_j is kept integer by
    scaling with 2^m_max: sum_j 2^(m_max - M_j) is an exact BIGINT
    (<= 256 * 2^53 < 2^62), so the only float op is the final
    one-row division -- the estimate is bit-identical regardless of
    partition count or aggregation order, which a double-summed HLL
    cannot guarantee.  Bucket extraction uses integer `div`, never
    double division (h > 2^53 would lose low bits in a double).

    Small-range correction: when the raw estimate is <= 2.5m and
    empty buckets remain, linear counting (m * ln(m / empties)) is
    used instead -- the one place a libm call enters; the branch
    condition itself is integer/compare-exact, and the single ln()
    feeds a round(_, 2) so a cross-engine ulp difference could only
    matter if the value sat within 1e-13 of a 0.005 boundary.

    Plan shape: scan -> map-side partial max per bucket -> shuffle of
    <= 256 rows per partition -> 256-row final agg -> 1-row estimate.
    Register state is exactly the mergeable HLL sketch (max per
    bucket), so cross-dataset union = elementwise max."""
    o = read_table(spark, sf_dir, "orders")
    h = _h60(F.col("o_custkey").cast("string"))
    w = F.expr(f"h div {_HLL_M}")
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    buckets = (
        o.select(h.alias("h"))
        .select((F.col("h") % _HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    denom, est = _hll_estimate(buckets)
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    return denom.crossJoin(F.broadcast(exact)).select(
        "n_buckets",
        "m_max",
        "sum_scaled",
        "exact_distinct",
        F.round(est, 2).alias("est_distinct"),
        F.round(100.0 * (est / F.col("exact_distinct") - 1.0), 2).alias(
            "rel_err_pct"
        ),
    )


# ---------------------------------------------------------------------------
# Count-Min frequency sketch
# ---------------------------------------------------------------------------
_CMS_D = 4  # hash rows
_CMS_W = 512  # cells per row

def _cms_cell_sql(j: str, key: str) -> str:
    expr = f"CAST({j} AS VARCHAR) || '_' || CAST({key} AS VARCHAR)"
    return f"{_h60_sql(expr)} % {_CMS_W}"


_CMS_SQL = rf"""
    WITH counts AS (
      SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1
    ),
    cells AS (
      SELECT d.j,
             {_cms_cell_sql("d.j", "c.user_id")} AS cell,
             sum(c.exact_cnt)::BIGINT AS cell_total
      FROM counts c CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j) d
      GROUP BY 1, 2
    ),
    top AS (
      SELECT user_id, exact_cnt FROM counts
      ORDER BY exact_cnt DESC, user_id LIMIT 10
    )
    SELECT t.user_id, t.exact_cnt,
           min(c.cell_total) AS cm_est,
           (min(c.cell_total) - t.exact_cnt)::BIGINT AS overestimate
    FROM top t
    CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j) d
    JOIN cells c
      ON c.j = d.j
     AND c.cell = {_cms_cell_sql("d.j", "t.user_id")}
    GROUP BY 1, 2
"""


@query("sketch_countmin_freq", oracle=_CMS_SQL)
def sketch_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4 x w=512) over events.user_id, then
    point-estimate the 10 heaviest users: est(key) = min_j
    sketch[j][h_j(key)] -- always >= the true count, never under.

    The sketch here is built from the exact per-key counts (cell sums
    commute with pre-aggregation, so the cells are provably identical
    to streaming raw rows in); the `overestimate` column exposes the
    collision error the 512-cell width induces.  All counts and cell
    sums are BIGINT -- no floats anywhere.

    Plan shape: keyed count -> explode d rows per *key* -> groupBy
    (j, cell) with at most d*w = 2048 groups (map-side partial sums
    do almost all the work) -> broadcast the <=2048-row sketch to the
    top-k probe join.  At 100 TB, skip the exact pre-count and
    explode per input row before the same (j, cell) aggregation; the
    sketch stays <=2048 rows no matter the input size."""
    e = read_events(spark, sf_dir)
    counts = e.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))

    def _cell(j: Column, key: Column) -> Column:
        return (
            _h60(
                F.concat_ws("_", j.cast("string"), key.cast("string"))
            )
            % _CMS_W
        )

    jcol = F.explode(
        F.array(*[F.lit(i) for i in range(_CMS_D)])
    ).alias("j")
    cells = (
        counts.select("user_id", "exact_cnt", jcol)
        .select(
            "exact_cnt",
            "j",
            _cell(F.col("j"), F.col("user_id")).alias("cell"),
        )
        .groupBy("j", "cell")
        .agg(F.sum("exact_cnt").cast("bigint").alias("cell_total"))
    )
    top = counts.orderBy(F.desc("exact_cnt"), "user_id").limit(10)
    probes = top.select("user_id", "exact_cnt", jcol).select(
        "user_id",
        "exact_cnt",
        "j",
        _cell(F.col("j"), F.col("user_id")).alias("cell"),
    )
    return (
        probes.join(F.broadcast(cells), ["j", "cell"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cell_total").alias("cm_est"))
        .select(
            "user_id",
            "exact_cnt",
            "cm_est",
            (F.col("cm_est") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom filter (membership sketch + false-positive accounting)
# ---------------------------------------------------------------------------
_BLOOM_M = 65_536  # bits
_BLOOM_K = 4  # hash functions


def _bloom_pos_sql(j: str, key: str) -> str:
    expr = f"CAST({j} AS VARCHAR) || '_' || CAST({key} AS VARCHAR)"
    return f"{_h60_sql(expr)} % {_BLOOM_M}"


_BLOOM_SQL = rf"""
    WITH keys AS (SELECT DISTINCT c_custkey AS k FROM customer),
    bits AS (
      SELECT DISTINCT {_bloom_pos_sql("d.j", "keys.k")} AS pos
      FROM keys CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS j) d
    ),
    mx AS (SELECT max(k) AS mk FROM keys),
    probes AS (
      SELECT k AS probe_key, TRUE AS actually_present
      FROM (SELECT k FROM keys ORDER BY k LIMIT 10)
      UNION ALL
      SELECT mx.mk + i.i, FALSE
      FROM mx CROSS JOIN (SELECT unnest(range(1, 11)) AS i) i
    ),
    cells AS (
      SELECT p.probe_key, p.actually_present,
             {_bloom_pos_sql("d.j", "p.probe_key")} AS pos
      FROM probes p CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS j) d
    )
    SELECT c.probe_key, c.actually_present,
           bool_and(b.pos IS NOT NULL) AS bloom_positive
    FROM cells c LEFT JOIN bits b ON c.pos = b.pos
    GROUP BY 1, 2
"""


@query("sketch_bloom_membership", oracle=_BLOOM_SQL)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter (m={m} bits, k={k} hashes) over the customer key
    set, probed with 10 known-present and 10 known-absent keys.  A
    probe is positive iff ALL k bit positions are occupied -- no false
    negatives ever; the absent probes expose the false-positive rate
    the (m, k, n) sizing buys.  Same portable md5 hashing as the other
    sketches, so the DuckDB oracle reproduces the exact bit pattern.

    Plan shape: k positions explode per DISTINCT key, then the bit
    set dedups to at most m rows -- the full filter is a <= m-row
    DataFrame that BROADCASTS to the probe join (this is precisely the
    runtime-filter side of a broadcast bloom join: build once from the
    dim side, probe the fact side for free).  At 100 TB the build
    side's explode happens after a keyed dedup shuffle; the filter
    itself never exceeds m rows regardless of input size."""
    c = read_table(spark, sf_dir, "customer")
    keys = c.select(F.col("c_custkey").alias("k")).distinct()
    jcol = F.explode(F.array(*[F.lit(i) for i in range(_BLOOM_K)])).alias("j")

    def _pos(j: Column, key: Column) -> Column:
        return (
            _h60(F.concat_ws("_", j.cast("string"), key.cast("string")))
            % _BLOOM_M
        )

    bits = (
        keys.select("k", jcol)
        .select(_pos(F.col("j"), F.col("k")).alias("pos"))
        .distinct()
    )
    mx = keys.agg(F.max("k").alias("mk"))
    present = keys.orderBy("k").limit(10).select(
        F.col("k").alias("probe_key"), F.lit(True).alias("actually_present")
    )
    absent = (
        mx.select(
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("i"), "mk"
        )
        .select(
            (F.col("mk") + F.col("i")).alias("probe_key"),
            F.lit(False).alias("actually_present"),
        )
    )
    probes = present.unionByName(absent)
    cells = probes.select(
        "probe_key", "actually_present", jcol
    ).select(
        "probe_key",
        "actually_present",
        _pos(F.col("j"), F.col("probe_key")).alias("pos"),
    )
    return (
        cells.join(
            F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left"
        )
        .groupBy("probe_key", "actually_present")
        .agg(F.bool_and(F.col("hit").isNotNull()).alias("bloom_positive"))
    )


sketch_bloom_membership.__doc__ = sketch_bloom_membership.__doc__.format(
    m=_BLOOM_M, k=_BLOOM_K
)


# ---------------------------------------------------------------------------
# Histogram quantile sketch (approximate percentiles from fixed bins)
# ---------------------------------------------------------------------------
_QH_LO = 0.0  # price domain lower bound
_QH_W = 2_000  # bin width
_QH_BINS = 256  # fits o_totalprice's [1k, 500k) domain


_QH_SQL = rf"""
    WITH cells AS (
      SELECT CAST(least(floor((o_totalprice - {_QH_LO}) / {_QH_W}),
                        {_QH_BINS - 1}) AS BIGINT) AS cell,
             count(*) AS c
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT cell, c,
             coalesce(sum(c) OVER (ORDER BY cell
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cum_before
      FROM cells
    ),
    n AS (SELECT count(*) AS n, quantile_cont(o_totalprice, 0.50) AS ex50,
                 quantile_cont(o_totalprice, 0.95) AS ex95,
                 quantile_cont(o_totalprice, 0.99) AS ex99
          FROM orders),
    qs AS (SELECT unnest([0.50, 0.95, 0.99]) AS q),
    hit AS (
      SELECT qs.q, min(cum.cell) AS cell
      FROM qs CROSS JOIN n JOIN cum ON cum.cum_before + cum.c >= qs.q * n.n
      GROUP BY qs.q
    )
    SELECT h.q,
           round({_QH_LO} + h.cell * {_QH_W}
                 + {_QH_W} * (h.q * n.n - cum.cum_before) / cum.c, 2) AS est,
           round(CASE h.q WHEN 0.50 THEN n.ex50
                          WHEN 0.95 THEN n.ex95 ELSE n.ex99 END, 2)  AS exact,
           round(100.0 * (({_QH_LO} + h.cell * {_QH_W}
                 + {_QH_W} * (h.q * n.n - cum.cum_before) / cum.c)
                 / CASE h.q WHEN 0.50 THEN n.ex50
                            WHEN 0.95 THEN n.ex95 ELSE n.ex99 END - 1.0),
                 2) AS rel_err_pct
    FROM hit h JOIN cum ON cum.cell = h.cell CROSS JOIN n
"""


@query("sketch_quantile_hist", oracle=_QH_SQL)
def sketch_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p95/p99 of order totals from a {bins}-cell
    equi-width histogram with linear interpolation inside the hit
    cell -- the fixed-memory quantile sketch (t-digest/KLL's simple
    cousin) for columns with a known domain.  One scan partial-
    aggregates into <= {bins} cells; every later step (cumulative
    walk, quantile probe, interpolation) runs on the tiny cell table,
    so estimating any number of percentiles of a 100 TB column costs
    one pass + epsilon.  The exact percentiles (both engines use
    linear interpolation on the sorted column) ride along to expose
    the bin-width error."""
    o = read_table(spark, sf_dir, "orders")
    cell = F.least(
        F.floor((F.col("o_totalprice") - _QH_LO) / _QH_W),
        F.lit(_QH_BINS - 1),
    ).cast("bigint")
    cells = o.select(cell.alias("cell")).groupBy("cell").agg(
        F.count("*").alias("c")
    )
    from pyspark.sql.window import Window

    # Window over the <=256-row cell aggregate: bounded by
    # construction, same discipline as the sketch folds above.
    wc = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
    cum = cells.withColumn(
        "cum_before", F.coalesce(F.sum("c").over(wc), F.lit(0))
    )
    return _qh_estimator(o, cum)


def _qh_estimator(o: DataFrame, cum: DataFrame) -> DataFrame:
    """Shared cumulative-walk + interpolation estimator over a cell
    table, with the exact p50/p95/p99 riding along for the error
    column.  The three exact percentiles are ONE array-argument
    percentile aggregate: a separate aggregate per percentage buffers
    (and sorts) the whole column once per expression -- the fused form
    buffers once and returns identical doubles (measured 1.0 s -> 0.44
    s on the sf0.1 orders column)."""
    n = o.agg(
        F.count("*").alias("n"),
        F.percentile(
            "o_totalprice",
            F.array(F.lit(0.50), F.lit(0.95), F.lit(0.99)),
        ).alias("exq"),
    ).select(
        "n",
        F.element_at("exq", 1).alias("ex50"),
        F.element_at("exq", 2).alias("ex95"),
        F.element_at("exq", 3).alias("ex99"),
    )
    qdf = local_frame(cum.sparkSession, [(0.50,), (0.95,), (0.99,)], "q double")
    hit = (
        qdf.crossJoin(F.broadcast(n))
        .join(cum, F.col("cum_before") + F.col("c") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("cell").alias("cell"))
    )
    est = (
        F.lit(_QH_LO)
        + F.col("cell") * _QH_W
        + _QH_W * (F.col("q") * F.col("n") - F.col("cum_before")) / F.col("c")
    )
    exact = (
        F.when(F.col("q") == 0.50, F.col("ex50"))
        .when(F.col("q") == 0.95, F.col("ex95"))
        .otherwise(F.col("ex99"))
    )
    return (
        hit.join(cum, "cell")
        .crossJoin(F.broadcast(n))
        .select(
            "q",
            F.round(est, 2).alias("est"),
            F.round(exact, 2).alias("exact"),
            F.round(100.0 * (est / exact - 1.0), 2).alias("rel_err_pct"),
        )
    )


sketch_quantile_hist.__doc__ = sketch_quantile_hist.__doc__.format(bins=_QH_BINS)


# ---------------------------------------------------------------------------
# Per-group KMV: distinct customers per order priority from one sketch pass
# ---------------------------------------------------------------------------
_KMV_G_SQL = rf"""
    WITH hashes AS (
      SELECT DISTINCT o_orderpriority,
             {_h60_sql("CAST(o_custkey AS VARCHAR)")} AS h
      FROM orders
    ),
    ranked AS (
      SELECT o_orderpriority, h,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn
      FROM hashes
    ),
    kmin AS (
      SELECT o_orderpriority, max(h) AS kth_hash, count(*) AS k
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY o_orderpriority
    ),
    exact AS (
      SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_distinct
      FROM orders GROUP BY o_orderpriority
    )
    SELECT grp, k, kth_hash, exact_distinct,
           round(est, 2) AS est_distinct,
           round(100.0 * (est / exact_distinct - 1.0), 2) AS rel_err_pct
    FROM (
      SELECT k.o_orderpriority AS grp, k.k, k.kth_hash, e.exact_distinct,
             CASE WHEN k.k < {_KMV_K} THEN CAST(k.k AS DOUBLE)
                  ELSE ({_KMV_K} - 1)
                       / (CAST(k.kth_hash AS DOUBLE) / {_HASH_SPACE!r})
             END AS est
      FROM kmin k JOIN exact e ON k.o_orderpriority = e.o_orderpriority
    )
"""


@query("sketch_kmv_by_group", oracle=_KMV_G_SQL)
def sketch_kmv_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV sketch PARTITIONED: distinct customers per order
    priority, every group's bottom-{k} hash set maintained in one
    pass -- the per-slice NDV profile (cardinality per day / source /
    tenant) that column-statistics and mixture-weighting jobs run at
    100 TB, where one global number is useless.

    Plan shape: hash projection -> (group, hash) distinct ->
    per-group bottom-K via a rank window WITH the rn <= {k} filter
    adjacent, which Spark executes as WindowGroupLimit: each map task
    keeps only its own K smallest per group BEFORE the shuffle, so
    the exchange carries <= K rows per (group, partition), never the
    distinct sets.  State per group is exactly the mergeable bottom-K
    set (union = merge, keep K smallest).  A group with fewer than K
    distinct keys has the complete hash set, so the estimator returns
    the EXACT count k there (the standard KMV small-cardinality case)
    instead of the biased (K-1)/ratio formula.  The exact count rides
    along for the error column; a deployment drops it."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    hashes = o.select(
        "o_orderpriority", _h60(F.col("o_custkey").cast("string")).alias("h")
    ).distinct()
    w = Window.partitionBy("o_orderpriority").orderBy("h")
    kmin = (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("o_orderpriority")
        .agg(F.max("h").alias("kth_hash"), F.count("*").alias("k"))
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    est = F.when(
        F.col("k") < _KMV_K, F.col("k").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1))
        / (F.col("kth_hash").cast("double") / F.lit(_HASH_SPACE))
    )
    return (
        kmin.join(exact, "o_orderpriority")
        .select(
            F.col("o_orderpriority").alias("grp"),
            "k",
            "kth_hash",
            "exact_distinct",
            F.round(est, 2).alias("est_distinct"),
            F.round(100.0 * (est / F.col("exact_distinct") - 1.0), 2).alias(
                "rel_err_pct"
            ),
        )
    )


sketch_kmv_by_group.__doc__ = sketch_kmv_by_group.__doc__.format(k=_KMV_K)


# ---------------------------------------------------------------------------
# HLL register MERGE: union two independently-built sketches
# ---------------------------------------------------------------------------
_HLL_MERGE_SQL = rf"""
    WITH h AS (
      SELECT o_orderkey % 2 AS slice,
             {_h60_sql("CAST(o_custkey AS VARCHAR)")} AS h
      FROM orders
    ),
    slice_regs AS (
      SELECT slice, h % {_HLL_M} AS bucket,
             max(CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                      ELSE {_HLL_WBITS + 1} - length(bin(h // {_HLL_M}))
                 END) AS m_j
      FROM h GROUP BY 1, 2
    ),
    sstats AS (
      SELECT count(DISTINCT slice) AS n_slices,
             count(*) AS slice_registers_total
      FROM slice_regs
    ),
    merged AS (SELECT bucket, max(m_j) AS m_j FROM slice_regs GROUP BY 1),
    mm AS (SELECT max(m_j) AS m_max, count(*) AS n_buckets FROM merged),
    folded AS (
      SELECT mm.n_buckets, mm.m_max,
             sum(1::BIGINT << (mm.m_max - b.m_j))::BIGINT AS sum_occupied
      FROM merged b CROSS JOIN mm
      GROUP BY mm.n_buckets, mm.m_max
    ),
    denom AS (
      SELECT n_buckets, m_max,
             (sum_occupied
              + ({_HLL_M} - n_buckets) * (1::BIGINT << m_max))::BIGINT
                 AS sum_scaled
      FROM folded
    ),
    exact AS (SELECT count(DISTINCT o_custkey) AS exact_distinct FROM orders),
    est AS (
      SELECT n_buckets, m_max, sum_scaled,
             CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}.0
               * power(2.0, m_max) / sum_scaled AS raw_est
      FROM denom
    ),
    corrected AS (
      SELECT n_buckets, m_max, sum_scaled,
             CASE WHEN raw_est <= 2.5 * {_HLL_M} AND n_buckets < {_HLL_M}
                  THEN {_HLL_M}.0
                       * ln({_HLL_M}.0 / ({_HLL_M} - n_buckets))
                  ELSE raw_est
             END AS est
      FROM est
    )
    SELECT s.n_slices, s.slice_registers_total,
           c.n_buckets, c.m_max, c.sum_scaled, exact.exact_distinct,
           round(c.est, 2) AS est_distinct,
           round(100.0 * (c.est / exact.exact_distinct - 1.0), 2)
               AS rel_err_pct
    FROM corrected c CROSS JOIN sstats s CROSS JOIN exact
"""


@query("sketch_hll_merge", oracle=_HLL_MERGE_SQL)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch UNION -- the cross-partition/cross-day rollup a 100 TB
    continuous aggregate actually performs: two HLL register states
    are built INDEPENDENTLY (here per orderkey-parity slice, standing
    in for per-day/per-partition sketches) and merged by elementwise
    register max, then the merged state runs the exact same estimator
    as the single-pass build (shared _hll_estimate helper).

    Because max is associative and commutative, the merged registers
    are BIT-IDENTICAL to the registers a direct build over the union
    would produce -- the property that lets a deployment keep one
    256-row register table per day and answer "distinct over any date
    range" by merging states, never rescanning raw data
    (tests/test_sketches.py pins merged == direct exactly).

    Plan shape: one orders scan -> map-side partial max per (slice,
    bucket) -> shuffle of <= 2*{m} rows per partition -> merge max per
    bucket -> 1-row estimate.  slice_registers_total rides along to
    show the merge did real work (> n_buckets when slices overlap
    buckets)."""
    o = read_table(spark, sf_dir, "orders")
    h = _h60(F.col("o_custkey").cast("string"))
    rho = F.when(F.expr(f"h div {_HLL_M}") == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(F.expr(f"h div {_HLL_M}")))
    )
    slice_regs = (
        o.select((F.col("o_orderkey") % 2).alias("slice"), h.alias("h"))
        .select(
            "slice", (F.col("h") % _HLL_M).alias("bucket"), rho.alias("rho")
        )
        .groupBy("slice", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    sstats = slice_regs.agg(
        F.countDistinct("slice").alias("n_slices"),
        F.count("*").alias("slice_registers_total"),
    )
    merged = slice_regs.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    denom, est = _hll_estimate(merged)
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    return (
        denom.crossJoin(F.broadcast(sstats))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_slices",
            "slice_registers_total",
            "n_buckets",
            "m_max",
            "sum_scaled",
            "exact_distinct",
            F.round(est, 2).alias("est_distinct"),
            F.round(100.0 * (est / F.col("exact_distinct") - 1.0), 2).alias(
                "rel_err_pct"
            ),
        )
    )


sketch_hll_merge.__doc__ = sketch_hll_merge.__doc__.format(m=_HLL_M)


# ---------------------------------------------------------------------------
# KMV MERGE: union two independently-built bottom-K states
# ---------------------------------------------------------------------------
_KMV_MERGE_SQL = rf"""
    WITH hashes AS (
      SELECT DISTINCT o_orderkey % 2 AS slice,
             {_h60_sql("CAST(o_custkey AS VARCHAR)")} AS h
      FROM orders
    ),
    ranked AS (
      SELECT slice, h,
             ROW_NUMBER() OVER (PARTITION BY slice ORDER BY h) AS rn
      FROM hashes
    ),
    slice_k AS (SELECT slice, h FROM ranked WHERE rn <= {_KMV_K}),
    sstats AS (
      SELECT count(DISTINCT slice) AS n_slices,
             count(*) AS candidate_hashes
      FROM slice_k
    ),
    cand AS (SELECT DISTINCT h FROM slice_k),
    kmin AS (
      SELECT max(h) AS kth_hash, count(*) AS k
      FROM (SELECT h FROM cand ORDER BY h LIMIT {_KMV_K})
    ),
    exact AS (SELECT count(DISTINCT o_custkey) AS exact_distinct FROM orders),
    est AS (
      SELECT k, kth_hash,
             CASE WHEN k < {_KMV_K} THEN CAST(k AS DOUBLE)
                  ELSE ({_KMV_K} - 1)
                       / (CAST(kth_hash AS DOUBLE) / {_HASH_SPACE!r})
             END AS e
      FROM kmin
    )
    SELECT s.n_slices, s.candidate_hashes, est.k, est.kth_hash,
           exact.exact_distinct,
           round(est.e, 2) AS est_distinct,
           round(100.0 * (est.e / exact.exact_distinct - 1.0), 2)
               AS rel_err_pct
    FROM est CROSS JOIN sstats s CROSS JOIN exact
"""


@query("sketch_kmv_merge", oracle=_KMV_MERGE_SQL)
def sketch_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch UNION: two bottom-{k} hash states are built
    independently per orderkey-parity slice, then merged by pooling
    the (<= 2K, deduplicated) candidate hashes and keeping the K
    smallest -- the standard theta-sketch union.  Because the K
    smallest of a union are always contained in the union of each
    side's K smallest, the merged state is IDENTICAL to a direct
    build over all data (pinned by test), so per-day bottom-K states
    answer distinct counts over any date range.

    Plan shape: per-slice bottom-K via the WindowGroupLimit rank
    filter (each map task keeps K per slice pre-shuffle), then the
    merge operates on <= 2K int64s -- TakeOrderedAndProject, no wide
    shuffle.  Small-cardinality case (k < K) returns the exact k.
    candidate_hashes rides along to show the merge input size."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    hashes = o.select(
        (F.col("o_orderkey") % 2).alias("slice"),
        _h60(F.col("o_custkey").cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy("slice").orderBy("h")
    slice_k = (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("slice", "h")
    )
    sstats = slice_k.agg(
        F.countDistinct("slice").alias("n_slices"),
        F.count("*").alias("candidate_hashes"),
    )
    kmin = (
        slice_k.select("h")
        .distinct()
        .orderBy("h")
        .limit(_KMV_K)
        .agg(F.max("h").alias("kth_hash"), F.count("*").alias("k"))
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    est = F.when(
        F.col("k") < _KMV_K, F.col("k").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1))
        / (F.col("kth_hash").cast("double") / F.lit(_HASH_SPACE))
    )
    return (
        kmin.crossJoin(F.broadcast(sstats))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_slices",
            "candidate_hashes",
            "k",
            "kth_hash",
            "exact_distinct",
            F.round(est, 2).alias("est_distinct"),
            F.round(100.0 * (est / F.col("exact_distinct") - 1.0), 2).alias(
                "rel_err_pct"
            ),
        )
    )


sketch_kmv_merge.__doc__ = sketch_kmv_merge.__doc__.format(k=_KMV_K)


# ---------------------------------------------------------------------------
# Count-Min MERGE: cell-wise sum of two independently-built sketches
# ---------------------------------------------------------------------------
_CMS_MERGE_SQL = rf"""
    WITH counts AS (
      SELECT event_id % 2 AS slice, user_id, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    slice_cells AS (
      SELECT c.slice, d.j,
             {_cms_cell_sql("d.j", "c.user_id")} AS cell,
             sum(c.cnt)::BIGINT AS cell_total
      FROM counts c CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j) d
      GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT j, cell, sum(cell_total)::BIGINT AS cell_total
      FROM slice_cells GROUP BY 1, 2
    ),
    totals AS (
      SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1
    ),
    top AS (
      SELECT user_id, exact_cnt FROM totals
      ORDER BY exact_cnt DESC, user_id LIMIT 10
    )
    SELECT t.user_id, t.exact_cnt,
           min(m.cell_total) AS cm_est,
           (min(m.cell_total) - t.exact_cnt)::BIGINT AS overestimate
    FROM top t
    CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j) d
    JOIN merged m
      ON m.j = d.j
     AND m.cell = {_cms_cell_sql("d.j", "t.user_id")}
    GROUP BY 1, 2
"""


@query("sketch_countmin_merge", oracle=_CMS_MERGE_SQL)
def sketch_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch UNION: two d x w cell tables built
    independently per event-id-parity slice are merged by CELL-WISE
    SUM -- Count-Min is linear, so the merged sketch is exactly the
    sketch of the concatenated stream (pinned by test against
    sketch_countmin_freq's direct build).  This is the per-shard /
    per-day frequency rollup: keep one 2048-row cell table per
    partition, answer heavy-hitter queries over any set of partitions
    by summing cells.

    Plan shape: per-slice keyed count -> explode d rows/key ->
    (slice, j, cell) partial sums -> merge groupBy (j, cell) over
    <= 2*d*w rows -> broadcast to the top-k probe join.  Integer
    arithmetic throughout."""
    e = read_events(spark, sf_dir)
    counts = e.groupBy(
        (F.col("event_id") % 2).alias("slice"), "user_id"
    ).agg(F.count("*").alias("cnt"))

    def _cell(j: Column, key: Column) -> Column:
        return (
            _h60(F.concat_ws("_", j.cast("string"), key.cast("string")))
            % _CMS_W
        )

    jcol = F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("j")
    slice_cells = (
        counts.select("slice", "cnt", "user_id", jcol)
        .select(
            "slice",
            "cnt",
            "j",
            _cell(F.col("j"), F.col("user_id")).alias("cell"),
        )
        .groupBy("slice", "j", "cell")
        .agg(F.sum("cnt").cast("bigint").alias("cell_total"))
    )
    merged = slice_cells.groupBy("j", "cell").agg(
        F.sum("cell_total").cast("bigint").alias("cell_total")
    )
    totals = e.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))
    top = totals.orderBy(F.desc("exact_cnt"), "user_id").limit(10)
    probes = top.select("user_id", "exact_cnt", jcol).select(
        "user_id",
        "exact_cnt",
        "j",
        _cell(F.col("j"), F.col("user_id")).alias("cell"),
    )
    return (
        probes.join(F.broadcast(merged), ["j", "cell"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cell_total").alias("cm_est"))
        .select(
            "user_id",
            "exact_cnt",
            "cm_est",
            (F.col("cm_est") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Histogram quantile MERGE: cell-wise sum of per-slice histograms
# ---------------------------------------------------------------------------
_QH_MERGE_SQL = rf"""
    WITH slice_cells AS (
      SELECT o_orderkey % 2 AS slice,
             CAST(least(floor((o_totalprice - {_QH_LO}) / {_QH_W}),
                        {_QH_BINS - 1}) AS BIGINT) AS cell,
             count(*) AS c
      FROM orders GROUP BY 1, 2
    ),
    cells AS (
      SELECT cell, CAST(sum(c) AS BIGINT) AS c FROM slice_cells GROUP BY 1
    ),
    cum AS (
      SELECT cell, c,
             coalesce(sum(c) OVER (ORDER BY cell
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cum_before
      FROM cells
    ),
    n AS (SELECT count(*) AS n, quantile_cont(o_totalprice, 0.50) AS ex50,
                 quantile_cont(o_totalprice, 0.95) AS ex95,
                 quantile_cont(o_totalprice, 0.99) AS ex99
          FROM orders),
    qs AS (SELECT unnest([0.50, 0.95, 0.99]) AS q),
    hit AS (
      SELECT qs.q, min(cum.cell) AS cell
      FROM qs CROSS JOIN n JOIN cum ON cum.cum_before + cum.c >= qs.q * n.n
      GROUP BY qs.q
    )
    SELECT h.q,
           round({_QH_LO} + h.cell * {_QH_W}
                 + {_QH_W} * (h.q * n.n - cum.cum_before) / cum.c, 2) AS est,
           round(CASE h.q WHEN 0.50 THEN n.ex50
                          WHEN 0.95 THEN n.ex95 ELSE n.ex99 END, 2)  AS exact,
           round(100.0 * (({_QH_LO} + h.cell * {_QH_W}
                 + {_QH_W} * (h.q * n.n - cum.cum_before) / cum.c)
                 / CASE h.q WHEN 0.50 THEN n.ex50
                            WHEN 0.95 THEN n.ex95 ELSE n.ex99 END - 1.0),
                 2) AS rel_err_pct
    FROM hit h JOIN cum ON cum.cell = h.cell CROSS JOIN n
"""


@query("sketch_quantile_merge", oracle=_QH_MERGE_SQL)
def sketch_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-quantile sketch UNION: per-slice {bins}-cell
    equi-width histograms merged by CELL-WISE SUM (histograms are
    linear, like Count-Min), then the identical cumulative-walk +
    interpolation estimator as the direct build -- pinned equal by
    test.  Completes the mergeable-state story for all four sketch
    families (KMV keep-K-smallest, HLL register max, CM cell sum,
    histogram cell sum): every approximate statistic the engine
    publishes can be maintained per day/partition and rolled up over
    any range without rescanning raw data.

    Plan shape: one scan -> (slice, cell) partial counts -> merge
    groupBy over <= 2*{bins} rows -> estimator on the tiny table."""
    o = read_table(spark, sf_dir, "orders")
    cell = F.least(
        F.floor((F.col("o_totalprice") - _QH_LO) / _QH_W),
        F.lit(_QH_BINS - 1),
    ).cast("bigint")
    slice_cells = (
        o.select((F.col("o_orderkey") % 2).alias("slice"), cell.alias("cell"))
        .groupBy("slice", "cell")
        .agg(F.count("*").alias("c"))
    )
    cells = slice_cells.groupBy("cell").agg(
        F.sum("c").cast("bigint").alias("c")
    )
    from pyspark.sql.window import Window

    wc = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
    cum = cells.withColumn(
        "cum_before", F.coalesce(F.sum("c").over(wc), F.lit(0))
    )
    return _qh_estimator(o, cum)


sketch_quantile_merge.__doc__ = sketch_quantile_merge.__doc__.format(
    bins=_QH_BINS
)


def hll_registers(df: DataFrame, group_col: str, key: Column) -> DataFrame:
    """Reusable HLL register builder: (group, bucket, m_j) from raw
    rows, the mergeable state behind sketch_hll_distinct /
    sketch_hll_merge and the streaming register rollup
    (streaming/jobs.py::hll_rollup_stream).  One map-side partial max
    per (group, bucket); the shuffle carries <= groups x {m} rows per
    partition."""
    h = _h60(key.cast("string"))
    rho = F.when(
        F.expr(f"h div {_HLL_M}") == 0, F.lit(_HLL_WBITS + 1)
    ).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(F.expr(f"h div {_HLL_M}")))
    )
    return (
        df.select(F.col(group_col), h.alias("h"))
        .select(group_col, (F.col("h") % _HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


hll_registers.__doc__ = hll_registers.__doc__.format(m=_HLL_M)


# ---------------------------------------------------------------------------
# Count-Min inner product: sketch-based join-size estimation
# ---------------------------------------------------------------------------
# The estimator a planner uses to size a join BEFORE running it:
# |R join S on k| = sum_k cR(k)*cS(k), and the inner product of the
# two relations' Count-Min rows upper-bounds it (min over the d rows
# tightens the bound) -- the classic AMS/CM join-size result.

_JC_SQL = rf"""
    WITH r AS (
      SELECT l_partkey, count(*) AS c FROM lineitem
      WHERE l_returnflag = 'R' GROUP BY 1
    ), s AS (
      SELECT l_partkey, count(*) AS c FROM lineitem
      WHERE l_linestatus = 'O' GROUP BY 1
    ), rc AS (
      SELECT d.j, {_cms_cell_sql("d.j", "r.l_partkey")} AS cell,
             sum(r.c)::BIGINT AS total
      FROM r CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j) d
      GROUP BY 1, 2
    ), sc AS (
      SELECT d.j, {_cms_cell_sql("d.j", "s.l_partkey")} AS cell,
             sum(s.c)::BIGINT AS total
      FROM s CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j) d
      GROUP BY 1, 2
    ), est AS (
      SELECT rc.j, CAST(sum(rc.total * sc.total) AS BIGINT) AS ip
      FROM rc JOIN sc ON rc.j = sc.j AND rc.cell = sc.cell
      GROUP BY 1
    ), exact AS (
      SELECT CAST(sum(r.c * s.c) AS BIGINT) AS exact_join_size
      FROM r JOIN s ON r.l_partkey = s.l_partkey
    )
    SELECT exact.exact_join_size,
           (SELECT min(ip) FROM est) AS cm_est,
           CAST((SELECT min(ip) FROM est) - exact.exact_join_size AS BIGINT)
             AS overestimate
    FROM exact
"""


@query("sketch_join_cardinality", oracle=_JC_SQL)
def sketch_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from Count-Min sketches (AMS inner
    product): the true size of R join S on l_partkey (R = returned
    lines, S = open-status lines) is sum_k cR(k)*cS(k); the inner
    product of the two relations' CM rows estimates it WITHOUT
    joining -- min over the d hash rows, always >= the truth.  This
    is how a planner prices a join between two 100-TB relations from
    two 2048-cell summaries instead of running the join: each side's
    sketch partial-aggregates map-side on its own scan, the inner
    product is a (d*w)x(d*w)-bounded equi-join of two broadcastable
    frames, and the `overestimate` column exposes the collision bias
    the cell width induces (the exact join here is the oracle's
    ride-along, feasible only at test scale).

    Plan: two pushed-down lineitem scans -> per-key counts (checkpoint
    barrier so the sketch + exact branches reuse them) -> explode d
    cells/key -> groupBy (j, cell).  All integer arithmetic.
    """
    li = read_table(spark, sf_dir, "lineitem")
    r = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    s = (
        li.filter(F.col("l_linestatus") == "O")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )

    def _cell(j: Column, key: Column) -> Column:
        return (
            _h60(F.concat_ws("_", j.cast("string"), key.cast("string")))
            % _CMS_W
        )

    jcol = F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("j")

    def _sketch(df: DataFrame) -> DataFrame:
        return (
            df.select("l_partkey", "c", jcol)
            .select("c", "j", _cell(F.col("j"), F.col("l_partkey")).alias("cell"))
            .groupBy("j", "cell")
            .agg(F.sum("c").cast("bigint").alias("total"))
        )

    rc = _sketch(r).select("j", "cell", F.col("total").alias("r_total"))
    sc = _sketch(s).select("j", "cell", F.col("total").alias("s_total"))
    est = (
        rc.join(sc, ["j", "cell"])
        .groupBy("j")
        .agg(
            F.sum(F.col("r_total") * F.col("s_total"))
            .cast("bigint")
            .alias("ip")
        )
    )
    cm = est.agg(F.min("ip").alias("cm_est"))
    exact = (
        r.join(s.select(F.col("l_partkey"), F.col("c").alias("s_c")), "l_partkey")
        .agg(F.sum(F.col("c") * F.col("s_c")).cast("bigint").alias("exact_join_size"))
    )
    return (
        exact.join(F.broadcast(cm))
        .select(
            "exact_join_size",
            "cm_est",
            (F.col("cm_est") - F.col("exact_join_size"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# KMV set intersection (theta-sketch-style set algebra)
# ---------------------------------------------------------------------------
# Two cohorts' KMV sketches combine into a union sketch (K smallest of
# the combined hash sets); the fraction of those K present in BOTH
# inputs estimates Jaccard, and jaccard * est_union estimates the
# intersection -- set algebra over sketches, the theta-sketch idea:
# audience overlap across 100-TB cohorts from two K-value summaries.

_KMV_I_SQL = rf"""
    WITH a AS (
      SELECT DISTINCT {_h60_sql("CAST(o_custkey AS VARCHAR)")} AS h
      FROM orders WHERE year(o_orderdate) = 1995
    ), b AS (
      SELECT DISTINCT {_h60_sql("CAST(o_custkey AS VARCHAR)")} AS h
      FROM orders WHERE year(o_orderdate) = 2000
    ), u AS (
      SELECT h,
             max(in_a) AS in_a, max(in_b) AS in_b
      FROM (SELECT h, 1 AS in_a, 0 AS in_b FROM a
            UNION ALL
            SELECT h, 0 AS in_a, 1 AS in_b FROM b)
      GROUP BY h
    ), kmin AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             max(h) AS kth_hash,
             CAST(sum(in_a * in_b) AS BIGINT) AS matches
      FROM (SELECT * FROM u ORDER BY h LIMIT {_KMV_K})
    ), est AS (
      SELECT k, matches,
             CASE WHEN k < {_KMV_K} THEN CAST(k AS DOUBLE)
                  ELSE ({_KMV_K} - 1)
                       / (CAST(kth_hash AS DOUBLE) / {_HASH_SPACE!r})
             END AS est_union,
             matches / CAST(k AS DOUBLE) AS jaccard
      FROM kmin
    ), exact AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_intersection
      FROM a JOIN b ON a.h = b.h
    )
    SELECT est.k, est.matches, exact.exact_intersection,
           round(est.jaccard, 4) AS est_jaccard,
           round(est.jaccard * est.est_union, 2) AS est_intersection
    FROM est CROSS JOIN exact
"""


@query("sketch_kmv_intersection", oracle=_KMV_I_SQL)
def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection from KMV sketches (theta-sketch set algebra):
    customers active in 1995 vs in 2000, overlap estimated from the
    K={k} smallest hashes of the UNION of the two cohorts' sketches --
    est_jaccard = fraction of those K present in both, and
    est_intersection = est_jaccard * est_union.  Small unions (k < K)
    fall back to the exact count (the KMV small-set rule).  The exact
    intersection rides along as the oracle-checkable truth.

    Scale: each cohort's distinct-hash set partial-aggregates on its
    own pushed-down scan; the union flags come from one tagged
    union + groupBy (no join); the K-min cut is TakeOrdered (never a
    full sort); everything after operates on <= K rows.  Two cohort
    sketches of any size combine this way -- audience-overlap algebra
    without ever joining the raw 100-TB cohorts.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )

    def _cohort(yr: int, a: int, b: int) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == yr)
            .select("o_custkey")
            .distinct()
            .select(
                _h60(F.col("o_custkey").cast("string")).alias("h"),
                F.lit(a).alias("in_a"),
                F.lit(b).alias("in_b"),
            )
        )

    u = (
        _cohort(1995, 1, 0)
        .unionAll(_cohort(2000, 0, 1))
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    kmin = (
        u.orderBy("h")
        .limit(_KMV_K)
        .agg(
            F.count("*").cast("bigint").alias("k"),
            F.max("h").alias("kth_hash"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("matches"),
        )
    )
    est = kmin.select(
        "k",
        "matches",
        F.when(F.col("k") < _KMV_K, F.col("k").cast("double"))
        .otherwise(
            F.lit(float(_KMV_K - 1))
            / (F.col("kth_hash").cast("double") / F.lit(_HASH_SPACE))
        )
        .alias("est_union"),
        (F.col("matches") / F.col("k").cast("double")).alias("jaccard"),
    )
    exact = u.filter((F.col("in_a") == 1) & (F.col("in_b") == 1)).agg(
        F.count("*").cast("bigint").alias("exact_intersection")
    )
    return est.join(F.broadcast(exact)).select(
        "k",
        "matches",
        "exact_intersection",
        F.round(F.col("jaccard"), 4).alias("est_jaccard"),
        F.round(F.col("jaccard") * F.col("est_union"), 2).alias(
            "est_intersection"
        ),
    )


sketch_kmv_intersection.__doc__ = sketch_kmv_intersection.__doc__.format(
    k=_KMV_K
)


# ---------------------------------------------------------------------------
# Bloom-pruned join (sideways information passing / semi-join pushdown)
# ---------------------------------------------------------------------------
_BJ_SEGMENT = "BUILDING"
_BJ_WORD = 32  # bits per packed word (stays positive in any engine)


def bloom_prune(
    dim: DataFrame, dim_key: str, fact: DataFrame, fact_key: str
) -> DataFrame:
    """Pre-filter ``fact`` to rows whose ``fact_key`` MIGHT appear in
    ``dim[dim_key]``, via a Bloom filter built from the dim side and
    broadcast as one map row -- the runtime-join-filter core of
    join_bloom_pruned, exposed so the pruning rate itself is testable
    (tests/test_scale.py pins surviving rows << |fact| at sf0.1).
    False positives survive (callers verify with a real join); no
    true match is ever dropped."""

    def _pos(j: int, key: Column) -> Column:
        return (
            _h60(F.concat(F.lit(str(j)), F.lit("_"), key.cast("string")))
            % _BLOOM_M
        )

    # Pack dim-key bit positions into 32-bit words: (word_idx, bits).
    pos_rows = dim.select(
        F.explode(
            F.array(
                *[_pos(j, F.col(dim_key)).alias("p") for j in range(_BLOOM_K)]
            )
        ).alias("pos")
    )
    words = pos_rows.groupBy(
        (F.col("pos") / _BJ_WORD).cast("bigint").alias("w")
    ).agg(
        F.bit_or(
            F.pow(F.lit(2.0), (F.col("pos") % _BJ_WORD)).cast("bigint")
        ).alias("bits")
    )
    bloom = words.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("w", "bits")))
        ).alias("bloom")
    )

    def _hit(j: int) -> Column:
        p = _pos(j, F.col(fact_key))
        word = F.coalesce(
            F.element_at(F.col("bloom"), (p / _BJ_WORD).cast("bigint")),
            F.lit(0).cast("bigint"),
        )
        mask = F.pow(F.lit(2.0), (p % _BJ_WORD)).cast("bigint")
        return word.bitwiseAND(mask) != 0

    might_contain = _hit(0)
    for j in range(1, _BLOOM_K):
        might_contain = might_contain & _hit(j)

    return fact.join(F.broadcast(bloom)).filter(might_contain).drop("bloom")


@query(
    "join_bloom_pruned",
    oracle=f"""
    SELECT o.o_orderpriority,
           count(*)                    AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = '{_BJ_SEGMENT}'
    GROUP BY o.o_orderpriority
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned join -- sideways information passing: build a
    {m}-bit Bloom filter ({k} hashes, packed into {word}-bit words
    keyed by word index) from the SELECTIVE dim side (customers in
    the '{seg}' segment), broadcast it as one map row, and pre-filter
    the fact scan with the might-contain test BEFORE any join; the
    final equi-join then removes Bloom false positives, so the result
    is byte-identical to the plain join the oracle states.  The
    mechanism under test is exactly what engines call a runtime/Bloom
    join filter (Spark's spark.sql.optimizer.runtime.bloomFilter) --
    built here from first principles so the pruning is explicit,
    portable, and plan-pinnable.

    Scale: this is THE pattern that rescues selective fact-dim joins
    at 100 TB -- the filter costs O(|dim|) bit-sets plus a ~{m}-bit
    broadcast, and discards non-matching fact rows AT THE SCAN (map
    side, inside codegen), so the shuffle/join sees only rows that
    can match (false-positive rate ~0.6%% per probe at these
    parameters) instead of the full fact table.  The dim side is
    broadcast for the verifying join; only surviving rows ever leave
    the scan stage."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    dim = cust.filter(F.col("c_mktsegment") == _BJ_SEGMENT).select(
        "c_custkey"
    )
    pruned = bloom_prune(dim, "c_custkey", orders, "o_custkey")
    return (
        pruned.join(F.broadcast(dim), pruned.o_custkey == dim.c_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


join_bloom_pruned.__doc__ = join_bloom_pruned.__doc__.format(
    m=_BLOOM_M, k=_BLOOM_K, word=_BJ_WORD, seg=_BJ_SEGMENT
)


# ---------------------------------------------------------------------------
# Sliding-window HLL: distinct users over the trailing 3 days, per day,
# by register-max union of per-day sketches (sketch x window composition)
# ---------------------------------------------------------------------------
_HLL_SLIDE_DAYS = 3

_HLL_SLIDING_SQL = rf"""
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS day, user_id,
             {_h60_sql("CAST(user_id AS VARCHAR)")} AS h
      FROM events
    ),
    regs AS (
      SELECT day, h % {_HLL_M} AS bucket,
             max(CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                      ELSE {_HLL_WBITS + 1} - length(bin(h // {_HLL_M}))
                 END) AS m_j
      FROM ev GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT day FROM regs),
    merged AS (
      SELECT c.tday AS day, c.bucket, max(c.m_j) AS m_j
      FROM (SELECT day + i AS tday, bucket, m_j
            FROM regs, UNNEST([0, 1, 2]) AS t(i)) c
      JOIN days d ON d.day = c.tday
      GROUP BY 1, 2
    ),
    mm AS (
      SELECT day, max(m_j) AS m_max, count(*) AS n_buckets
      FROM merged GROUP BY 1
    ),
    denom AS (
      SELECT m.day, mm.n_buckets, mm.m_max,
             (sum(1::BIGINT << (mm.m_max - m.m_j))::BIGINT
              + ({_HLL_M} - mm.n_buckets) * (1::BIGINT << mm.m_max)
             )::BIGINT AS sum_scaled
      FROM merged m JOIN mm ON mm.day = m.day
      GROUP BY 1, 2, 3
    ),
    est AS (
      SELECT day, n_buckets, m_max, sum_scaled,
             CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}.0
               * power(2.0, m_max) / sum_scaled AS raw_est
      FROM denom
    ),
    corrected AS (
      SELECT day, n_buckets, m_max, sum_scaled,
             CASE WHEN raw_est <= 2.5 * {_HLL_M} AND n_buckets < {_HLL_M}
                  THEN {_HLL_M}.0
                       * ln({_HLL_M}.0 / ({_HLL_M} - n_buckets))
                  ELSE raw_est
             END AS est
      FROM est
    ),
    exact AS (
      SELECT c.tday AS day, count(DISTINCT c.user_id) AS exact_distinct
      FROM (SELECT day + i AS tday, user_id
            FROM (SELECT DISTINCT day, user_id FROM ev),
                 UNNEST([0, 1, 2]) AS t(i)) c
      JOIN days d ON d.day = c.tday
      GROUP BY 1
    )
    SELECT CAST(c.day AS VARCHAR) AS day,
           c.n_buckets, c.m_max, c.sum_scaled, e.exact_distinct,
           round(c.est, 2) AS est_distinct,
           round(100.0 * (c.est / e.exact_distinct - 1.0), 2)
               AS rel_err_pct
    FROM corrected c JOIN exact e ON e.day = c.day
"""


@query("sketch_hll_sliding", oracle=_HLL_SLIDING_SQL)
def sketch_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct count: users active in the trailing
    {d} days, per day, estimated by UNIONING per-day HLL register
    sets (elementwise max) -- the sketch x window composition every
    continuous aggregate / hypertable rollup runs at scale, where the
    raw events of a 3-day window can never be re-scanned per day.

    The sliding union is stated as bounded FAN-OUT, not a window
    function: each per-day register row contributes to exactly {d}
    target days (explode over the offsets, then register-max per
    target day), so work is {d} x |registers| -- registers, not
    events -- and partial aggregation applies throughout.  Events are
    hashed and collapsed to <= {m} register rows per day in the first
    shuffle; everything downstream is sketch-sized.  The exact
    sliding distinct rides along (same fan-out on deduped (day, user)
    pairs) purely as the accuracy yardstick.  Estimator arithmetic is
    the integer-exact scaled-denominator form of sketch_hll_distinct
    (bit-stable under any partitioning / merge order)."""
    ev = read_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        "user_id",
        _h60(F.col("user_id").cast("string")).alias("h"),
    )
    w = F.expr(f"h div {_HLL_M}")
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    regs = (
        ev.select("day", (F.col("h") % _HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("m_j"))
        # two consumers (observed-day set + fan-out); registers are
        # sketch-sized, so materializing once is cheap and keeps the
        # event scan single-pass for the sketch side
        .localCheckpoint()
    )
    days = regs.select("day").distinct()
    offs = F.explode(
        F.array(*[F.lit(i) for i in range(_HLL_SLIDE_DAYS)])
    ).alias("i")
    merged = (
        regs.select("day", "bucket", "m_j", offs)
        .select(
            F.date_add("day", F.col("i")).alias("day"), "bucket", "m_j"
        )
        .join(F.broadcast(days), "day")
        .groupBy("day", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    mm = merged.groupBy("day").agg(
        F.max("m_j").alias("m_max"), F.count("*").alias("n_buckets")
    )
    denom = (
        merged.join(F.broadcast(mm), "day")
        .groupBy("day", "n_buckets", "m_max")
        .agg(
            (
                F.sum(F.expr("shiftleft(cast(1 as bigint), m_max - m_j)"))
                + (F.lit(_HLL_M) - F.col("n_buckets"))
                * F.expr("shiftleft(cast(1 as bigint), m_max)")
            ).cast("bigint").alias("sum_scaled")
        )
    )
    raw_est = (
        F.lit(_HLL_ALPHA)
        * F.lit(float(_HLL_M * _HLL_M))
        * F.pow(F.lit(2.0), F.col("m_max"))
        / F.col("sum_scaled")
    )
    est = F.when(
        (raw_est <= F.lit(2.5 * _HLL_M)) & (F.col("n_buckets") < _HLL_M),
        F.lit(float(_HLL_M))
        * F.log(F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("n_buckets"))),
    ).otherwise(raw_est)
    exact = (
        ev.select("day", "user_id")
        .distinct()
        .select(F.date_add("day", F.col("i")).alias("day"), "user_id", offs)
        .select("day", "user_id")
        .join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return denom.join(exact, "day").select(
        # dates travel as ISO strings: the two engines' native date
        # types normalize differently in the driver's hash
        F.col("day").cast("string").alias("day"),
        "n_buckets",
        "m_max",
        "sum_scaled",
        "exact_distinct",
        F.round(est, 2).alias("est_distinct"),
        F.round(
            F.lit(100.0) * (est / F.col("exact_distinct") - 1.0), 2
        ).alias("rel_err_pct"),
    )


sketch_hll_sliding.__doc__ = sketch_hll_sliding.__doc__.format(
    d=_HLL_SLIDE_DAYS, m=_HLL_M
)


# ---------------------------------------------------------------------------
# HLL x CUBE: one pass of registers serves the whole grouping lattice
# ---------------------------------------------------------------------------
_HLL_CUBE_SQL = rf"""
    WITH h AS (
      SELECT o_orderstatus AS s, o_orderpriority AS p,
             {_h60_sql("CAST(o_custkey AS VARCHAR)")} AS h
      FROM orders
    ),
    regs AS (
      SELECT s, p, h % {_HLL_M} AS bucket,
             max(CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                      ELSE {_HLL_WBITS + 1} - length(bin(h // {_HLL_M}))
                 END) AS m_j
      FROM h GROUP BY 1, 2, 3
    ),
    cells AS (
      SELECT CASE WHEN m.i IN (0, 1) THEN r.s ELSE 'ALL' END AS cell_s,
             CASE WHEN m.i IN (0, 2) THEN r.p ELSE 'ALL' END AS cell_p,
             r.bucket, max(r.m_j) AS m_j
      FROM regs r, UNNEST([0, 1, 2, 3]) AS m(i)
      GROUP BY 1, 2, 3
    ),
    mm AS (
      SELECT cell_s, cell_p, max(m_j) AS m_max, count(*) AS n_buckets
      FROM cells GROUP BY 1, 2
    ),
    denom AS (
      SELECT c.cell_s, c.cell_p, mm.n_buckets, mm.m_max,
             (sum(1::BIGINT << (mm.m_max - c.m_j))::BIGINT
              + ({_HLL_M} - mm.n_buckets) * (1::BIGINT << mm.m_max)
             )::BIGINT AS sum_scaled
      FROM cells c JOIN mm ON mm.cell_s = c.cell_s AND mm.cell_p = c.cell_p
      GROUP BY 1, 2, 3, 4
    ),
    est AS (
      SELECT cell_s, cell_p, n_buckets, m_max, sum_scaled,
             CASE WHEN CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}.0
                       * power(2.0, m_max) / sum_scaled <= 2.5 * {_HLL_M}
                       AND n_buckets < {_HLL_M}
                  THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - n_buckets))
                  ELSE CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}.0
                       * power(2.0, m_max) / sum_scaled
             END AS est
      FROM denom
    ),
    exact AS (
      SELECT CASE WHEN m.i IN (0, 1) THEN d.s ELSE 'ALL' END AS cell_s,
             CASE WHEN m.i IN (0, 2) THEN d.p ELSE 'ALL' END AS cell_p,
             count(DISTINCT d.k) AS exact_distinct
      FROM (SELECT DISTINCT o_orderstatus AS s, o_orderpriority AS p,
                   o_custkey AS k FROM orders) d,
           UNNEST([0, 1, 2, 3]) AS m(i)
      GROUP BY 1, 2
    )
    SELECT e.cell_s, e.cell_p, e.n_buckets, e.m_max, e.sum_scaled,
           x.exact_distinct, round(e.est, 2) AS est_distinct,
           round(100.0 * (e.est / x.exact_distinct - 1.0), 2)
               AS rel_err_pct
    FROM est e JOIN exact x
      ON x.cell_s = e.cell_s AND x.cell_p = e.cell_p
"""


@query("sketch_hll_cube", oracle=_HLL_CUBE_SQL)
def sketch_hll_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers for EVERY cell of the (status x priority)
    grouping lattice -- cube, both rollups, and grand total -- from
    ONE pass of HLL registers: the finest-grain register table fans
    out to its 4 lattice cells and coarser cells merge by register
    max, so the raw fact is hashed exactly once however many cells
    the cube has.  This is why mergeable sketches, not exact
    count-distincts, power OLAP cubes and continuous aggregates
    (an exact DISTINCT cannot be rolled up; register states can).

    Scale: register build is the usual <= {m}-rows-per-group partial
    max; the lattice fan-out multiplies REGISTERS (bounded), never
    facts; the exact count-distinct rides along per cell as the
    accuracy yardstick.  Estimator arithmetic is the integer-exact
    scaled-denominator form shared by the whole HLL family."""
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
        "o_custkey",
    )
    h = _h60(F.col("o_custkey").cast("string"))
    w = F.expr(f"h div {_HLL_M}")
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    regs = (
        o.select("s", "p", h.alias("h"))
        .select("s", "p", (F.col("h") % _HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("s", "p", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    mode = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i")
    cell_s = F.when(F.col("i").isin(0, 1), F.col("s")).otherwise(F.lit("ALL"))
    cell_p = F.when(F.col("i").isin(0, 2), F.col("p")).otherwise(F.lit("ALL"))
    cells = (
        regs.select("s", "p", "bucket", "m_j", mode)
        .select(
            cell_s.alias("cell_s"), cell_p.alias("cell_p"), "bucket", "m_j"
        )
        .groupBy("cell_s", "cell_p", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    mm = cells.groupBy("cell_s", "cell_p").agg(
        F.max("m_j").alias("m_max"), F.count("*").alias("n_buckets")
    )
    denom = (
        cells.join(F.broadcast(mm), ["cell_s", "cell_p"])
        .groupBy("cell_s", "cell_p", "n_buckets", "m_max")
        .agg(
            (
                F.sum(F.expr("shiftleft(cast(1 as bigint), m_max - m_j)"))
                + (F.lit(_HLL_M) - F.col("n_buckets"))
                * F.expr("shiftleft(cast(1 as bigint), m_max)")
            ).cast("bigint").alias("sum_scaled")
        )
    )
    raw_est = (
        F.lit(_HLL_ALPHA)
        * F.lit(float(_HLL_M * _HLL_M))
        * F.pow(F.lit(2.0), F.col("m_max"))
        / F.col("sum_scaled")
    )
    est = F.when(
        (raw_est <= F.lit(2.5 * _HLL_M)) & (F.col("n_buckets") < _HLL_M),
        F.lit(float(_HLL_M))
        * F.log(F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("n_buckets"))),
    ).otherwise(raw_est)
    exact = (
        o.distinct()
        .select("s", "p", "o_custkey", mode)
        .select(
            cell_s.alias("cell_s"), cell_p.alias("cell_p"), "o_custkey"
        )
        .groupBy("cell_s", "cell_p")
        .agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    )
    return denom.join(exact, ["cell_s", "cell_p"]).select(
        "cell_s",
        "cell_p",
        "n_buckets",
        "m_max",
        "sum_scaled",
        "exact_distinct",
        F.round(est, 2).alias("est_distinct"),
        F.round(
            F.lit(100.0) * (est / F.col("exact_distinct") - 1.0), 2
        ).alias("rel_err_pct"),
    )


# ---------------------------------------------------------------------------
# CBO statistics: join-size estimation from an end-biased histogram
# ---------------------------------------------------------------------------
_JSE_HEAVY = 64


@query(
    "join_size_estimate",
    oracle=f"""
    WITH pk AS (
      SELECT l_partkey AS k, count(*) AS n FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT k, n, ROW_NUMBER() OVER (ORDER BY n DESC, k) AS rn FROM pk
    ),
    heavy AS (
      SELECT CAST(coalesce(sum(n * n), 0) AS BIGINT) AS hsum,
             CAST(count(*) AS BIGINT) AS n_heavy
      FROM ranked WHERE rn <= {_JSE_HEAVY}
    ),
    rest AS (
      SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS rtot,
             CAST(count(*) AS BIGINT) AS rd
      FROM ranked WHERE rn > {_JSE_HEAVY}
    ),
    exact AS (
      SELECT CAST(sum(n * n) AS BIGINT) AS exact_size FROM pk
    )
    SELECT exact_size, n_heavy,
           rtot AS rest_rows, rd AS rest_distinct,
           hsum + CASE WHEN rd > 0 THEN (rtot * rtot) // rd ELSE 0 END
             AS est_size,
           round(100.0 * ((hsum + CASE WHEN rd > 0 THEN (rtot * rtot) // rd
                                       ELSE 0 END) / exact_size - 1.0), 2)
             AS rel_err_pct
    FROM heavy, rest, exact
    """,
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer statistics: estimate the size of the
    lineitem-partkey self-equi-join (sum over keys of n(k)^2 -- the
    second frequency moment that decides shuffle-vs-broadcast and
    skew handling) from an END-BIASED HISTOGRAM: the {h} heaviest
    keys kept exactly, the tail summarized by (row total, distinct
    count) under a uniformity assumption.  The exact moment rides
    along as the witness, oracle-checked.

    This is the statistics contract every planner runs at 100 TB:
    the histogram is O({h}) state per column -- buildable in one
    map-side-combinable aggregation pass, mergeable across
    partitions/partitions-of-days by the same top-merge the sketch
    family uses -- while the exact answer needs every key.  The
    estimator splitting heavy hitters from a uniform tail is why
    end-biased histograms (Ioannidis/Poosala) beat equi-width ones
    on skewed join columns: the heavy keys dominate n(k)^2.

    Plan shape: per-key counts (one shuffle with partial aggregation);
    the heavy set via orderBy+limit, which Spark executes as
    TakeOrderedAndProject (each task keeps its own top-{h}, no global
    sort, no unpartitioned window over the key space -- at 100 TB the
    distinct-key set is itself data-scale); tail statistics by
    SUBTRACTING the heavy aggregates from the global totals, so the
    tail is never materialized.  All arithmetic BIGINT; the only
    float is the final error percentage, derived identically in both
    engines.
    """
    li = read_table(spark, sf_dir, "lineitem")
    pk = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count("*").alias("n")
    )
    heavy = (
        pk.orderBy(F.col("n").desc(), F.col("k"))
        .limit(_JSE_HEAVY)
        .agg(
            F.coalesce(F.sum(F.col("n") * F.col("n")), F.lit(0))
            .cast("bigint")
            .alias("hsum"),
            F.count("*").cast("bigint").alias("n_heavy"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("hrows"),
        )
    )
    totals = pk.agg(
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("exact_size"),
        F.sum("n").cast("bigint").alias("all_rows"),
        F.count("*").cast("bigint").alias("all_distinct"),
    )
    rest = (
        heavy.join(totals)
        .select(
            "hsum",
            "n_heavy",
            "exact_size",
            (F.col("all_rows") - F.col("hrows")).alias("rtot"),
            (F.col("all_distinct") - F.col("n_heavy")).alias("rd"),
        )
    )
    est = F.col("hsum") + F.when(
        F.col("rd") > 0,
        F.expr("(rtot * rtot) div rd"),
    ).otherwise(F.lit(0))
    return (
        rest
        .select(
            "exact_size",
            "n_heavy",
            F.col("rtot").alias("rest_rows"),
            F.col("rd").alias("rest_distinct"),
            est.alias("est_size"),
            F.round(
                100.0 * (est / F.col("exact_size") - 1.0), 2
            ).alias("rel_err_pct"),
        )
    )


join_size_estimate.__doc__ = join_size_estimate.__doc__.format(h=_JSE_HEAVY)


# ---------------------------------------------------------------------------
# Certified distributed top-k: local candidates + threshold-algorithm bound
# ---------------------------------------------------------------------------
_TK_SLICES = 4
_TK_LOCAL = 30
_TK_K = 10


@query(
    "topk_certified",
    oracle=rf"""
    WITH words AS (
      SELECT doc_id % {_TK_SLICES} AS slice,
             unnest(string_split_regex(lower(text), '\s+')) AS w
      FROM documents
    ),
    pc AS (SELECT slice, w, count(*) AS n FROM words WHERE w <> ''
           GROUP BY 1, 2),
    ranked AS (
      SELECT slice, w, n,
             ROW_NUMBER() OVER (PARTITION BY slice
                                ORDER BY n DESC, w) AS rn
      FROM pc
    ),
    local_top AS (SELECT slice, w, n FROM ranked WHERE rn <= {_TK_LOCAL}),
    thresholds AS (
      SELECT CAST(sum(tmin) AS BIGINT) AS bound FROM (
        SELECT slice, min(n) AS tmin FROM local_top GROUP BY 1)
    ),
    cands AS (SELECT DISTINCT w FROM local_top),
    cc AS (
      SELECT pc.w, CAST(sum(pc.n) AS BIGINT) AS total
      FROM pc JOIN cands USING (w) GROUP BY 1
    ),
    topk AS (
      SELECT w, total, ROW_NUMBER() OVER (ORDER BY total DESC, w) AS rk
      FROM cc
    )
    SELECT t.w AS word, t.total, CAST(t.rk AS BIGINT) AS rk, b.bound,
           (SELECT min(total) FROM topk WHERE rk <= {_TK_K}) >= b.bound
             AS certified
    FROM topk t, thresholds b WHERE t.rk <= {_TK_K}
    """,
)
def topk_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed top-{k} word frequencies WITH A PROOF: each of
    {s} corpus slices (stand-ins for partitions/days) contributes
    only its local top-{m}, and the threshold-algorithm bound
    (Fagin/TA) certifies the merged answer -- any word absent from
    slice i's local list has count_i <= that slice's {m}-th local
    count, so its global count is at most the sum of the per-slice
    thresholds; when the k-th candidate's exact total clears that
    bound, NO unseen word can displace the top-{k}, and the result is
    certified exact without ever shipping full per-slice frequency
    tables.  The certificate rides along as a column; on a
    heavy-tailed (Zipfian) column it certifies at tiny {m}, which is
    exactly why coordinators fetch local top lists first at 100 TB.

    Plan shape: one explode + per-(slice, word) count (the only
    data-scale shuffle); local tops via a per-slice rank window the
    optimizer executes as WindowGroupLimit (each map task keeps {m}
    rows per slice before the exchange); the candidate set is bounded
    by {s} x {m} rows, so the exact-total join broadcasts it and the
    final ranking windows over a bounded frame.  Counts stay BIGINT
    end to end."""
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        (F.col("doc_id") % _TK_SLICES).alias("slice"),
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    # ONE corpus pass: the (slice, word) count table is vocabulary-
    # bounded, so it is checkpointed and every downstream branch
    # (local tops, thresholds, exact candidate totals) reuses it --
    # the exact-total pass must NOT re-derive the explode+count.
    pc = words.groupBy("slice", "w").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=True)
    wloc = Window.partitionBy("slice").orderBy(F.col("n").desc(), F.col("w"))
    local_top = (
        pc.withColumn("rn", F.row_number().over(wloc))
        .filter(F.col("rn") <= _TK_LOCAL)
        .drop("rn")
    )
    bound = local_top.groupBy("slice").agg(F.min("n").alias("tmin")).agg(
        F.sum("tmin").cast("bigint").alias("bound")
    )
    cands = local_top.select("w").distinct()
    cc = (
        pc.join(F.broadcast(cands), "w")
        .groupBy("w")
        .agg(F.sum("n").cast("bigint").alias("total"))
    )
    wrank = Window.orderBy(F.col("total").desc(), F.col("w"))
    topk = (
        cc.withColumn("rk", F.row_number().over(wrank).cast("bigint"))
        .filter(F.col("rk") <= _TK_K)
    )
    kth = topk.agg(F.min("total").alias("kth_total"))
    return (
        topk.join(F.broadcast(bound))
        .join(F.broadcast(kth))
        .select(
            F.col("w").alias("word"),
            "total",
            "rk",
            "bound",
            (F.col("kth_total") >= F.col("bound")).alias("certified"),
        )
    )


topk_certified.__doc__ = topk_certified.__doc__.format(
    k=_TK_K, s=_TK_SLICES, m=_TK_LOCAL
)


# ---------------------------------------------------------------------------
# KMV set algebra: Jaccard / intersection estimate from two bottom-k states
# ---------------------------------------------------------------------------
_KI_K = 256
_KI_Y1, _KI_Y2 = 1996, 1997


@query(
    "sketch_kmv_intersect",
    oracle=f"""
    WITH keys AS (
      SELECT o_custkey AS k,
             bool_or(year(o_orderdate) = {_KI_Y1}) AS has_a,
             bool_or(year(o_orderdate) = {_KI_Y2}) AS has_b
      FROM orders WHERE year(o_orderdate) IN ({_KI_Y1}, {_KI_Y2})
      GROUP BY 1
    ),
    hashed AS (
      SELECT {_h60_sql("CAST(k AS VARCHAR)")} AS h, has_a, has_b FROM keys
    ),
    a_sig AS (SELECT h FROM hashed WHERE has_a ORDER BY h LIMIT {_KI_K}),
    b_sig AS (SELECT h FROM hashed WHERE has_b ORDER BY h LIMIT {_KI_K}),
    u_sig AS (
      SELECT h FROM (
        SELECT DISTINCT h FROM (SELECT h FROM a_sig
                                UNION ALL SELECT h FROM b_sig)
      ) ORDER BY h LIMIT {_KI_K}
    ),
    u_stats AS (SELECT max(h) AS kth, count(*) AS k FROM u_sig),
    shared AS (
      SELECT count(*) AS n_shared FROM u_sig
      WHERE h IN (SELECT h FROM a_sig) AND h IN (SELECT h FROM b_sig)
    ),
    exact AS (
      SELECT CAST(count(*) FILTER (WHERE has_a AND has_b) AS BIGINT)
               AS exact_inter,
             CAST(count(*) AS BIGINT) AS exact_union
      FROM keys
    ),
    est AS (
      SELECT u.k, u.kth, s.n_shared, e.exact_inter, e.exact_union,
             CASE WHEN u.k < {_KI_K} THEN CAST(u.k AS DOUBLE)
                  ELSE ({_KI_K} - 1)
                       / (CAST(u.kth AS DOUBLE) / {_HASH_SPACE!r})
             END AS union_est
      FROM u_stats u, shared s, exact e
    )
    SELECT CAST(k AS BIGINT) AS k, n_shared, exact_inter, exact_union,
           round(union_est, 2) AS union_est,
           round(n_shared / CAST(k AS DOUBLE), 4) AS jaccard_est,
           round(n_shared / CAST(k AS DOUBLE) * union_est, 2) AS inter_est
    FROM est
    """,
)
def sketch_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch INTERSECTION -- the other half of the mergeable-state
    algebra (sketch_hll_merge does union): how many customers ordered
    in BOTH {y1} and {y2}, estimated from two independently-built
    bottom-{k} KMV states.  The classic trick: the union's bottom-{k}
    is computable purely from the two signatures (union, keep {k}
    smallest), the fraction of those hashes present in both
    signatures estimates the Jaccard similarity, and Jaccard x
    union-cardinality estimates the intersection -- so a deployment
    that stores one 256-hash signature per slice answers any overlap
    / audience-intersection question from state algebra alone, never
    rescanning raw data.  Groups smaller than {k} degrade to exact
    counts (full hash set retained), same guard as
    sketch_kmv_by_group.

    Exact intersection and union ride along as the oracle-checked
    witness.  Plan shape: ONE orders scan (year-pruned) -> per-key
    flag aggregation; the signatures are TakeOrdered bottom-{k}
    selections (each map task keeps {k} rows before the exchange);
    all set algebra then runs on <= {k}-row broadcast frames.  Hashes
    stay BIGINT; the only floats are the final estimator ratios,
    derived identically in both engines."""
    o = read_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    keys = (
        o.filter(yr.isin(_KI_Y1, _KI_Y2))
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.max(F.when(yr == _KI_Y1, 1).otherwise(0)).alias("ia"),
            F.max(F.when(yr == _KI_Y2, 1).otherwise(0)).alias("ib"),
        )
        .select(
            _h60(F.col("k").cast("string")).alias("h"),
            (F.col("ia") == 1).alias("has_a"),
            (F.col("ib") == 1).alias("has_b"),
        )
        .localCheckpoint(eager=True)  # flagged key set reused 4x
    )
    a_sig = keys.filter("has_a").select("h").orderBy("h").limit(_KI_K)
    b_sig = keys.filter("has_b").select("h").orderBy("h").limit(_KI_K)
    u_sig = (
        a_sig.unionByName(b_sig).distinct().orderBy("h").limit(_KI_K)
    ).localCheckpoint(eager=True)
    u_stats = u_sig.agg(
        F.max("h").alias("kth"), F.count("*").cast("bigint").alias("k")
    )
    shared = (
        u_sig.join(F.broadcast(a_sig), "h", "left_semi")
        .join(F.broadcast(b_sig), "h", "left_semi")
        .agg(F.count("*").alias("n_shared"))
    )
    exact = keys.agg(
        F.sum(F.when(F.col("has_a") & F.col("has_b"), 1).otherwise(0))
        .cast("bigint")
        .alias("exact_inter"),
        F.count("*").cast("bigint").alias("exact_union"),
    )
    union_est = F.when(
        F.col("k") < _KI_K, F.col("k").cast("double")
    ).otherwise(
        F.lit(float(_KI_K - 1)) / (F.col("kth").cast("double") / F.lit(_HASH_SPACE))
    )
    jac = F.col("n_shared") / F.col("k").cast("double")
    return (
        u_stats.join(F.broadcast(shared))
        .join(F.broadcast(exact))
        .select(
            "k",
            "n_shared",
            "exact_inter",
            "exact_union",
            F.round(union_est, 2).alias("union_est"),
            F.round(jac, 4).alias("jaccard_est"),
            F.round(jac * union_est, 2).alias("inter_est"),
        )
    )


sketch_kmv_intersect.__doc__ = sketch_kmv_intersect.__doc__.format(
    k=_KI_K, y1=_KI_Y1, y2=_KI_Y2
)


# ---------------------------------------------------------------------------
# Misra-Gries / SpaceSaving heavy hitters: mergeable compressed counts
# ---------------------------------------------------------------------------
_MG_K = 16       # summary capacity per shard
_MG_SHARDS = 8   # deterministic data shards (stand-in for executors)
_MG_TOP = 10


def mg_shard_compress(counts: DataFrame, k: int = _MG_K):
    """Misra-Gries compression of per-shard count vectors: keep each
    shard's top-``k`` rows by (count desc, item asc), subtract the
    (k+1)-th count, drop non-positive survivors.  Returns
    ``(kept(shard, item, cc), err(shard, e))`` with the per-shard
    error ``e`` = the subtracted count, the summary's deterministic
    accuracy bound.  Shared by the batch query and the streaming twin
    (each micro-batch is one shard).  The rank filter executes as
    WindowGroupLimit -- per-partition top-k, no full sort."""
    w = Window.partitionBy("shard").orderBy(F.desc("c"), F.col("item"))
    ranked = counts.select(
        "*", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= k + 1)
    err = ranked.groupBy("shard").agg(
        F.coalesce(
            F.max(F.when(F.col("rnk") == k + 1, F.col("c"))), F.lit(0)
        ).cast("bigint").alias("e")
    )
    kept = (
        ranked.filter(F.col("rnk") <= k)
        .join(F.broadcast(err), "shard")
        .select("shard", "item", (F.col("c") - F.col("e")).alias("cc"))
        .filter(F.col("cc") > 0)
    )
    return kept, err


@query(
    "sketch_spacesaving_merge",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id % {_MG_SHARDS} AS shard,
             unnest(string_split_regex(lower(text), '\\s+')) AS item
      FROM documents
    ),
    counts AS (
      SELECT shard, item, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY shard, item
    ),
    ranked AS (
      SELECT shard, item, c,
             row_number() OVER (PARTITION BY shard
                                ORDER BY c DESC, item) AS rnk
      FROM counts
    ),
    err AS (
      SELECT shard,
             CAST(coalesce(max(CASE WHEN rnk = {_MG_K + 1} THEN c END), 0)
                  AS BIGINT) AS e
      FROM ranked WHERE rnk <= {_MG_K + 1} GROUP BY shard
    ),
    kept AS (
      SELECT r.item, r.c - err.e AS cc
      FROM ranked r JOIN err ON err.shard = r.shard
      WHERE r.rnk <= {_MG_K} AND r.c - err.e > 0
    ),
    total_err AS (SELECT CAST(sum(e) AS BIGINT) AS te FROM err),
    merged AS (
      SELECT item, CAST(sum(cc) AS BIGINT) AS est_lo FROM kept GROUP BY item
    ),
    exact AS (
      SELECT item, CAST(count(*) AS BIGINT) AS exact_n FROM toks GROUP BY item
    )
    SELECT m.item, m.est_lo, m.est_lo + t.te AS est_hi, x.exact_n,
           x.exact_n BETWEEN m.est_lo AND m.est_lo + t.te AS within_bounds
    FROM merged m CROSS JOIN total_err t JOIN exact x ON x.item = m.item
    ORDER BY m.est_lo DESC, m.item LIMIT {_MG_TOP}
    """,
)
def sketch_spacesaving_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Misra-Gries / SpaceSaving heavy hitters over document
    tokens: each of {shards} deterministic data shards compresses its
    exact token histogram to a capacity-{k} summary (keep the top {k}
    rows, subtract the (k+1)-th count -- the Misra-Gries compression
    of a count vector, whose per-shard error is exactly that
    subtracted count), the shard summaries MERGE by plain per-item
    addition, and the merged estimate brackets the true frequency:
    sum of compressed counts <= true count <= sum + sum of per-shard
    errors.  The driver-checked rows carry both bounds AND the exact
    count with a within_bounds verdict, so the guarantee itself is
    what the oracle verifies -- completing the sketch family's merge
    algebra (KMV/HLL/CM/quantile) with the deterministic-error
    heavy-hitter summary.

    Scale: the summary is {k} rows per shard regardless of token
    cardinality; per-shard top-(k+1) selection is a rank-filtered
    window that Spark executes as WindowGroupLimit (per-partition
    top-k, no full sort), and everything after the compression
    touches {shards} x {k} rows.  The exact-count verification join
    exists to CHECK the sketch locally; production serves from the
    summary alone."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % _MG_SHARDS).alias("shard"),
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("item"),
    )
    counts = toks.groupBy("shard", "item").agg(
        F.count("*").cast("bigint").alias("c")
    )
    kept, err = mg_shard_compress(counts)
    total_err = err.agg(F.sum("e").cast("bigint").alias("te"))
    merged = kept.groupBy("item").agg(
        F.sum("cc").cast("bigint").alias("est_lo")
    )
    exact = toks.groupBy("item").agg(
        F.count("*").cast("bigint").alias("exact_n")
    )
    return (
        merged.crossJoin(F.broadcast(total_err))
        .join(exact, "item")
        .select(
            "item",
            "est_lo",
            (F.col("est_lo") + F.col("te")).alias("est_hi"),
            "exact_n",
            F.col("exact_n").between(
                F.col("est_lo"), F.col("est_lo") + F.col("te")
            ).alias("within_bounds"),
        )
        .orderBy(F.desc("est_lo"), "item")
        .limit(_MG_TOP)
    )


sketch_spacesaving_merge.__doc__ = sketch_spacesaving_merge.__doc__.format(
    shards=_MG_SHARDS, k=_MG_K
)
