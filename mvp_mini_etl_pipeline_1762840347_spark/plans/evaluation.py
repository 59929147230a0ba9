"""Model-evaluation queries: cross-validation and ranking metrics
computed as distributed aggregations.

The engine's ML story (regression_price_qty, kmeans, quality
classifier) produces models; a pipeline that TRAINS on the corpus
also has to EVALUATE on it, at the same scale.  Both queries here
keep the data-sized work to a single grouped aggregation and push
every per-model / per-threshold computation onto the tiny aggregated
frame -- the only shape that survives 100 TB:

* k-fold cross-validation never rescans per fold: one pass collects
  per-fold SUFFICIENT STATISTICS, and the train-side moments of every
  fold are the ALGEBRAIC COMPLEMENT (global minus fold) -- k models
  and k held-out errors from one scan, because OLS and MSE are both
  functions of (n, Sx, Sy, Sxx, Sxy, Syy) alone.
* AUC never sorts rows globally: scores are grouped to their distinct
  values first (bounded domain), and the rank-sum identity runs over
  the distinct-value frame with tie-correction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import local_frame, read_table
from .registry import query

_N_FOLDS = 5


@query(
    "crossval_regression",
    oracle=f"""
    WITH stats AS (
      SELECT l_orderkey % {_N_FOLDS} AS fold,
             count(*)                   AS n,
             sum(l_quantity)            AS sx,
             sum(l_extendedprice)       AS sy,
             sum(l_quantity * l_quantity)          AS sxx,
             sum(l_quantity * l_extendedprice)     AS sxy,
             sum(l_extendedprice * l_extendedprice) AS syy
      FROM lineitem GROUP BY 1
    ),
    folds AS (
      SELECT fold, n, sx, sy, sxx, sxy, syy,
             sum(n)   OVER () - n   AS tn,
             sum(sx)  OVER () - sx  AS tsx,
             sum(sy)  OVER () - sy  AS tsy,
             sum(sxx) OVER () - sxx AS tsxx,
             sum(sxy) OVER () - sxy AS tsxy
      FROM stats
    ),
    fitted AS (
      SELECT fold, n, sx, sy, sxx, sxy, syy,
             (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) AS slope,
             (tsy - (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) * tsx)
               / tn AS icept
      FROM folds
    )
    SELECT fold, n AS n_test,
           round(slope, 4) AS slope,
           round(icept, 4) AS intercept,
           round(sqrt((syy - 2 * icept * sy - 2 * slope * sxy
                       + n * icept * icept + 2 * slope * icept * sx
                       + slope * slope * sxx) / n), 2) AS test_rmse
    FROM fitted
    """,
)
def crossval_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-fold cross-validated OLS (price ~ quantity) from ONE scan.

    Fold assignment is a deterministic key hash (orderkey mod {k}).
    The single pass aggregates per-fold sufficient statistics
    (n, Sx, Sy, Sxx, Sxy, Syy) -- constant state, map-side combined.
    Each fold's TRAINING moments are then the complement
    (global - fold), taken with window sums over the {k}-row frame,
    and the held-out RMSE expands algebraically:

        sum((y - a - b*x)^2) = Syy - 2a*Sy - 2b*Sxy
                               + n*a^2 + 2ab*Sx + b^2*Sxx

    so neither the k models nor the k test errors ever touch the fact
    table again.  The naive form (k train scans + k eval scans) reads
    the data 2k times; this reads it once, which is the difference
    between feasible and not at corpus scale."""
    li = read_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    stats = li.groupBy(
        (F.col("l_orderkey") % _N_FOLDS).alias("fold")
    ).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )
    # complement (train-side) moments over the k-row aggregated frame;
    # the unpartitioned window is over exactly k rows, never data.
    w = Window.partitionBy()
    folds = stats.select(
        "*",
        (F.sum("n").over(w) - F.col("n")).alias("tn"),
        (F.sum("sx").over(w) - F.col("sx")).alias("tsx"),
        (F.sum("sy").over(w) - F.col("sy")).alias("tsy"),
        (F.sum("sxx").over(w) - F.col("sxx")).alias("tsxx"),
        (F.sum("sxy").over(w) - F.col("sxy")).alias("tsxy"),
    )
    slope = (F.col("tn") * F.col("tsxy") - F.col("tsx") * F.col("tsy")) / (
        F.col("tn") * F.col("tsxx") - F.col("tsx") * F.col("tsx")
    )
    fitted = folds.select(
        "fold", "n", "sx", "sy", "sxx", "sxy", "syy",
        slope.alias("slope"),
        ((F.col("tsy") - slope * F.col("tsx")) / F.col("tn")).alias("icept"),
    )
    a, b = F.col("icept"), F.col("slope")
    mse = (
        F.col("syy")
        - 2 * a * F.col("sy")
        - 2 * b * F.col("sxy")
        + F.col("n") * a * a
        + 2 * a * b * F.col("sx")
        + b * b * F.col("sxx")
    ) / F.col("n")
    return fitted.select(
        "fold",
        F.col("n").alias("n_test"),
        F.round("slope", 4).alias("slope"),
        F.round("icept", 4).alias("intercept"),
        F.round(F.sqrt(mse), 2).alias("test_rmse"),
    )


crossval_regression.__doc__ = crossval_regression.__doc__.format(k=_N_FOLDS)


@query(
    "classifier_auc",
    oracle="""
    WITH scored AS (
      SELECT n_chars AS score,
             count(*) FILTER (WHERE lang = 'en')  AS p,
             count(*) FILTER (WHERE lang <> 'en') AS q
      FROM documents GROUP BY 1
    ),
    ranked AS (
      SELECT p, q,
             coalesce(sum(q) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cum_neg_below
      FROM scored
    )
    SELECT round(sum(p * (cum_neg_below + q / 2.0))
                 / (sum(p) * sum(q)), 6) AS auc,
           CAST(sum(p) AS BIGINT) AS n_pos,
           CAST(sum(q) AS BIGINT) AS n_neg
    FROM ranked
    """,
)
def classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of a score column against a binary label via the
    rank-sum (Mann-Whitney) identity, tie-corrected -- here document
    length scoring English-ness, i.e. "how discriminative is this
    feature", the readout every quality-classifier iteration needs.

    AUC = P(score_pos > score_neg) + P(equal)/2.  Instead of ranking
    rows globally (a total sort of the corpus), rows are first grouped
    to DISTINCT score values -- one shuffle of O(|score domain|) rows,
    the same reduction a histogram makes -- and the identity runs on
    the distinct-value frame:

        AUC = sum_s  p_s * (cum_neg_below(s) + q_s/2)  / (P*N)

    where the q_s/2 term is the standard average-rank tie correction.
    The one unpartitioned window orders score VALUES, not rows, so
    the plan holds when the corpus is 10^9 documents but the score
    domain is thousands."""
    d = read_table(spark, sf_dir, "documents")
    is_pos = F.col("lang") == "en"
    scored = d.groupBy(F.col("n_chars").alias("score")).agg(
        F.count(F.when(is_pos, 1)).alias("p"),
        F.count(F.when(~is_pos, 1)).alias("q"),
    )
    w = (
        Window.partitionBy()
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = scored.select(
        "p", "q", F.coalesce(F.sum("q").over(w), F.lit(0)).alias("cum_neg_below")
    )
    return ranked.agg(
        F.round(
            F.sum(F.col("p") * (F.col("cum_neg_below") + F.col("q") / 2.0))
            / (F.sum("p") * F.sum("q")),
            6,
        ).alias("auc"),
        F.sum("p").alias("n_pos"),
        F.sum("q").alias("n_neg"),
    )


_CAL_BINS = 10


@query(
    "classifier_calibration",
    oracle=f"""
    WITH bounds AS (
      SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents
    ),
    binned AS (
      SELECT least({_CAL_BINS - 1},
                   ((n_chars - b.mn) * {_CAL_BINS}) // (b.mx - b.mn + 1))
               AS bin,
             CAST(lang = 'en' AS INT) AS pos, n_chars
      FROM documents, bounds b
    )
    SELECT bin, count(*) AS n,
           round(sum(pos) * 1.0 / count(*), 6) AS pos_frac,
           round(avg(n_chars), 2) AS avg_score
    FROM binned GROUP BY bin
    """,
)
def classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for a score column: {b} equal-width score
    bins, each reporting its observed positive rate -- the companion
    readout to classifier_auc (AUC says the ranking is good;
    calibration says whether the score MEANS anything as a rate).

    Scale shape: bin bounds come from a 1-row global min/max aggregate
    cross-joined (broadcast) back into the scan, and binning is pure
    INTEGER arithmetic -- (score-mn)*{b} integer-div (mx-mn+1) -- so
    both engines compute bit-identical bins and the per-bin rates are
    ratios of exact integers (no float summation order anywhere).
    One data-sized shuffle: the {b}-row groupBy."""
    d = read_table(spark, sf_dir, "documents")
    bounds = d.agg(
        F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx")
    )
    binned = d.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(_CAL_BINS - 1),
            F.expr(f"(n_chars - mn) * {_CAL_BINS} div (mx - mn + 1)"),
        ).alias("bin"),
        (F.col("lang") == "en").cast("int").alias("pos"),
        "n_chars",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.sum("pos") * 1.0 / F.count("*"), 6).alias("pos_frac"),
        F.round(F.avg("n_chars"), 2).alias("avg_score"),
    )


classifier_calibration.__doc__ = classifier_calibration.__doc__.format(
    b=_CAL_BINS
)


@query(
    "score_quantile_normalize",
    oracle="""
    WITH t AS (
      SELECT source, n_chars AS score FROM documents
    ),
    src_marg AS (
      SELECT source, score, count(*) AS cnt FROM t GROUP BY 1, 2
    ),
    src_cdf AS (
      SELECT source, score, cnt,
             (sum(cnt) OVER (PARTITION BY source ORDER BY score)
              - cnt / 2.0)
             / sum(cnt) OVER (PARTITION BY source) AS pr
      FROM src_marg
    ),
    glob_marg AS (
      SELECT score, count(*) AS gcnt FROM t GROUP BY 1
    ),
    glob_cdf AS (
      SELECT score AS gscore,
             (sum(gcnt) OVER (ORDER BY score)) * 1.0
             / sum(gcnt) OVER () AS gcdf
      FROM glob_marg
    ),
    mapped AS (
      SELECT s.source, s.score, s.cnt,
             min(g.gscore) AS norm_score
      FROM src_cdf s JOIN glob_cdf g ON g.gcdf >= s.pr
      GROUP BY 1, 2, 3
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_docs,
           round(sum(score * cnt) * 1.0 / sum(cnt), 4) AS mean_raw,
           round(sum(norm_score * cnt) * 1.0 / sum(cnt), 4) AS mean_norm,
           min(norm_score) AS min_norm, max(norm_score) AS max_norm
    FROM mapped GROUP BY source
    """,
)
def score_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-document score ACROSS sources:
    each source's score distribution maps onto the pooled global
    distribution through its own midpoint CDF and the global inverse
    CDF -- the harmonization step a multi-source curation pipeline
    runs so "quality 0.8" means the same thing whether the document
    came from web crawl or curated text (raw score scales differ per
    source; normalized ones are comparable by construction, visible
    here as per-source means pulled toward the pooled mean).

    Scale shape: everything happens on DISTINCT-VALUE frames (the
    same reduction classifier_auc uses).  Per-source and global
    marginals are two grouped counts; CDFs are windows over score
    VALUES (domain-bounded, partitioned by source or tiny); the
    inverse-CDF lookup joins value frames against each other --
    |distinct scores| x |sources| at worst, independent of corpus
    row count.  All compared quantities are ratios of exact integers
    (counts and integer scores), so both engines agree to the bit
    before rounding."""
    d = read_table(spark, sf_dir, "documents")
    t = d.select("source", F.col("n_chars").alias("score"))
    src_marg = t.groupBy("source", "score").agg(F.count("*").alias("cnt"))
    w_cum = Window.partitionBy("source").orderBy("score")
    w_all = Window.partitionBy("source")
    src_cdf = src_marg.select(
        "source",
        "score",
        "cnt",
        (
            (F.sum("cnt").over(w_cum) - F.col("cnt") / 2.0)
            / F.sum("cnt").over(w_all)
        ).alias("pr"),
    )
    glob_marg = t.groupBy("score").agg(F.count("*").alias("gcnt"))
    gw_cum = Window.partitionBy().orderBy("score")
    gw_all = Window.partitionBy()
    glob_cdf = glob_marg.select(
        F.col("score").alias("gscore"),
        (
            F.sum("gcnt").over(gw_cum) * 1.0 / F.sum("gcnt").over(gw_all)
        ).alias("gcdf"),
    )
    mapped = (
        src_cdf.join(F.broadcast(glob_cdf), F.col("gcdf") >= F.col("pr"))
        .groupBy("source", "score", "cnt")
        .agg(F.min("gscore").alias("norm_score"))
    )
    return mapped.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.round(F.sum(F.col("score") * F.col("cnt")) * 1.0 / F.sum("cnt"), 4).alias(
            "mean_raw"
        ),
        F.round(
            F.sum(F.col("norm_score") * F.col("cnt")) * 1.0 / F.sum("cnt"), 4
        ).alias("mean_norm"),
        F.min("norm_score").alias("min_norm"),
        F.max("norm_score").alias("max_norm"),
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction interval (distribution-free coverage)
# ---------------------------------------------------------------------------
_CFP_ALPHA_PCT = 10  # target 90% coverage

# Shared float formulas (exact-integer inputs -> bit-identical
# doubles in both engines; same discipline as influence_diagnostics).
_CFP_B = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_CFP_A = "(CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
_CFP_SCORE = (
    "CAST(round(abs(CAST(y AS DOUBLE)"
    " - (a + b * CAST(x AS DOUBLE)))) AS BIGINT)"
)


@query(
    "conformal_interval",
    oracle=f"""
    WITH v AS (
      SELECT l_orderkey % 10 AS fold,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM v WHERE fold < 8
    ),
    ab AS (SELECT *, {_CFP_B} AS b FROM fit),
    ab2 AS (SELECT *, {_CFP_A} AS a FROM ab),
    cal AS (
      SELECT {_CFP_SCORE} AS s FROM v CROSS JOIN ab2 WHERE fold = 8
    ),
    caln AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cal,
             CAST(least(((count(*) + 1) * {100 - _CFP_ALPHA_PCT} + 99)
                        // 100, count(*)) AS BIGINT) AS target_rank
      FROM cal
    ),
    qhat AS (
      SELECT (SELECT max(s) FROM (SELECT s FROM cal ORDER BY s
                                  LIMIT (SELECT target_rank FROM caln)))
               AS q_hat_cents
    ),
    test AS (
      SELECT {_CFP_SCORE} AS s FROM v CROSS JOIN ab2 WHERE fold = 9
    )
    SELECT (SELECT n FROM fit) AS n_train,
           (SELECT n_cal FROM caln) AS n_cal,
           (SELECT target_rank FROM caln) AS target_rank,
           (SELECT q_hat_cents FROM qhat) AS q_hat_cents,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN s <= (SELECT q_hat_cents FROM qhat)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           round(100.0 * sum(CASE WHEN s <= (SELECT q_hat_cents FROM qhat)
                             THEN 1 ELSE 0 END) / count(*), 4)
             AS coverage_pct
    FROM test
    """,
)
def conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration: fit price ~ quantity on the train
    folds, take the ceil((n_cal+1)(1-alpha))-th smallest absolute
    residual on a held-out CALIBRATION fold as the interval
    half-width q_hat, and measure the realized coverage on a disjoint
    TEST fold -- the distribution-free guarantee (>= {cov}% coverage
    in expectation, regardless of the model being wrong) that a
    point-estimate readout like crossval_regression cannot make.
    Splits are by order key (mod 10: 0-7 train, 8 cal, 9 test), so
    all three sets are disjoint at the entity level.

    Composition of the repo's own primitives at scale: the fit is one
    sufficient-statistics aggregation (constant state); scores derive
    from shared SQL formulas over exact integers (bit-identical
    doubles in both engines, then rounded to integer cents); the
    calibration quantile is the histogram-narrowing selector
    (operators/selection.py::rank_select -- the oracle brute-forces
    ORDER BY/LIMIT), and coverage is one conditional count against
    q_hat as a literal.  Nothing sorts."""
    from ..operators.selection import rank_select

    li = read_table(spark, sf_dir, "lineitem")
    v = li.select(
        (F.col("l_orderkey") % 10).alias("fold"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    fit = v.filter(F.col("fold") < 8).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
    )
    # The one-row fit lands on the driver: the exact bigint sums and
    # Spark's own b/a doubles, which every score reads as literals --
    # the same doubles, so the same scores, with no broadcast of the
    # fit into each fold and no re-run of its train-fold aggregation.
    fit_row = (
        fit.select("*", F.expr(_CFP_B).alias("b"))
        .select("*", F.expr(_CFP_A).alias("a"))
        .first()
    )
    fitted = [
        F.lit(fit_row.a).cast("double").alias("a"),
        F.lit(fit_row.b).cast("double").alias("b"),
    ]

    def scores(fold: int) -> DataFrame:
        return (
            v.filter(F.col("fold") == fold)
            .select("x", "y", *fitted)
            .select(F.expr(_CFP_SCORE).alias("c"))
        )

    cal = scores(8).localCheckpoint(eager=True)
    # min/max ride the calibration-count aggregation the query already
    # pays and are handed to the selector as its bounds.
    caln = cal.agg(
        F.count("*").cast("bigint").alias("n_cal"),
        F.expr(
            f"least(((count(*) + 1) * {100 - _CFP_ALPHA_PCT} + 99)"
            " div 100, count(*))"
        ).cast("bigint").alias("target_rank"),
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
    ).first()
    sel = rank_select(cal, {"q": caln.target_rank}, (caln.lo, caln.hi), bins=256)
    if not sel:  # empty calibration fold
        return local_frame(
            spark,
            [],
            "n_train bigint, n_cal bigint, target_rank bigint, q_hat_cents bigint,"
            " n_test bigint, n_covered bigint, coverage_pct double",
        )
    q_hat = F.lit(sel["q"]).cast("bigint")
    # grouped on the literal so an empty test fold still yields no row
    return (
        scores(9)
        .groupBy(q_hat.alias("q_hat_cents"))
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("c") <= q_hat, 1).otherwise(0))
            .cast("bigint").alias("n_covered"),
        )
        .select(
            F.lit(fit_row.n).cast("bigint").alias("n_train"),
            F.lit(caln.n_cal).cast("bigint").alias("n_cal"),
            F.lit(caln.target_rank).cast("bigint").alias("target_rank"),
            "q_hat_cents",
            "n_test",
            "n_covered",
            F.round(
                100.0 * F.col("n_covered") / F.col("n_test"), 4
            ).alias("coverage_pct"),
        )
    )


conformal_interval.__doc__ = conformal_interval.__doc__.format(
    cov=100 - _CFP_ALPHA_PCT
)


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension recall (can truncated embeddings serve?)
# ---------------------------------------------------------------------------
_MRL_DIMS = (8, 16, 32, 64)
_MRL_NQ = 5
_MRL_K = 10

_MRL_COS = (
    "list_dot_product(q.qe[1:dims.d], v.e[1:dims.d]) / "
    "sqrt(list_dot_product(q.qe[1:dims.d], q.qe[1:dims.d]) "
    "* list_dot_product(v.e[1:dims.d], v.e[1:dims.d]))"
)


@query(
    "embedding_prefix_recall",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dims(d) AS (VALUES {", ".join(f"({d})" for d in _MRL_DIMS)}),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {_MRL_NQ}),
    scored AS (
      SELECT dims.d, q.query_id, v.vec_id AS neighbor_id,
             round({_MRL_COS}, 4) AS sim
      FROM q JOIN v ON v.vec_id <> q.query_id CROSS JOIN dims
    ),
    ranked AS (
      SELECT d, query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY d, query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    ),
    topk AS (SELECT d, query_id, neighbor_id FROM ranked WHERE rank <= {_MRL_K}),
    full_k AS (SELECT query_id, neighbor_id FROM topk WHERE d = {_MRL_DIMS[-1]}),
    hits AS (
      SELECT t.d, t.query_id, count(f.neighbor_id) AS n_hit
      FROM topk t LEFT JOIN full_k f
        ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
      GROUP BY t.d, t.query_id
    )
    SELECT d AS prefix_dim,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST({_MRL_K} AS BIGINT) AS k,
           CAST(sum(n_hit) AS BIGINT) AS n_overlap,
           round(100.0 * sum(n_hit) / ({_MRL_K} * count(*)), 4) AS recall_pct
    FROM hits GROUP BY 1
    """,
)
def embedding_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style prefix-dimension evaluation (Kusupati et al.
    2022, public): for each candidate prefix length d, the exact
    top-{k} cosine neighbors computed on only the FIRST d dimensions
    are compared against the full-dimension top-{k}, yielding
    recall@{k} per prefix -- the measurement that decides whether an
    embedding store can serve ANN from truncated vectors (1/8th the
    memory and FLOPs at d=8) without retraining.  The full-dimension
    row rides along at 100% as the self-check.

    Plan shape: ONE scan of the embedding table fans out map-side to
    the |dims| prefix lengths via explode (the register-fanout
    discipline -- the multiplier is the constant 4, never data), the
    {nq}-query side is broadcast, and ranking is over (rounded sim,
    neighbor_id) so both engines order identically.  At 100 TB the
    same plan evaluates over a hash-sampled query set; the scan side
    stays the one full pass any exact-recall evaluation needs."""
    from .similarity import _vectors

    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    fan = v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.explode(F.array(*[F.lit(d) for d in _MRL_DIMS])).alias("d"),
        "e",
        "qe",
    )
    pe = F.expr("slice(e, 1, d)")
    pq_ = F.expr("slice(qe, 1, d)")
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = fan.select(
        "d",
        "query_id",
        "neighbor_id",
        F.round(
            dot(pq_, pe) / F.sqrt(dot(pq_, pq_) * dot(pe, pe)), 4
        ).alias("sim"),
    )
    w = Window.partitionBy("d", "query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    topk = (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= _MRL_K)
        .select("d", "query_id", "neighbor_id")
    )
    # Overlap WITHOUT re-deriving the ranking for the full-dim
    # reference: group the top-k pairs once, keep the set of prefix
    # lengths each (query, neighbor) pair ranks under, and count the
    # pairs whose set includes the full dimension -- one pass over the
    # K * |dims| * n_queries top-k rows instead of a self-join that
    # would recompute the whole scan/rank subtree (measured: 3 scans
    # -> 2; pinned in tests/test_scale.py).
    pair_dims = (
        topk.groupBy("query_id", "neighbor_id")
        .agg(F.collect_set("d").alias("ds"))
        .filter(F.array_contains("ds", _MRL_DIMS[-1]))
        .select("query_id", F.explode("ds").alias("d"))
        .groupBy("d", "query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    hits = (
        topk.select("d", "query_id")
        .distinct()
        .join(F.broadcast(pair_dims), ["d", "query_id"], "left")
        .select(
            "d",
            "query_id",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        )
    )
    return hits.groupBy(F.col("d").alias("prefix_dim")).agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.lit(_MRL_K).cast("bigint").alias("k"),
        F.sum("n_hit").cast("bigint").alias("n_overlap"),
        F.round(
            100.0 * F.sum("n_hit") / (_MRL_K * F.count("*")), 4
        ).alias("recall_pct"),
    )


embedding_prefix_recall.__doc__ = embedding_prefix_recall.__doc__.format(
    k=_MRL_K, nq=_MRL_NQ
)
