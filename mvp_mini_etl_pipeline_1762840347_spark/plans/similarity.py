"""Similarity search over `embeddings` (north-star, SURVEY §2.10).

Brute-force cosine top-k as the correctness baseline, plus a
sign-bucket LSH variant as the scale path.  All vector math is
higher-order functions (`zip_with`/`aggregate`) -- JVM-side, no
Python UDF, no collect.

The cosine kernel
-----------------
Spark's higher-order functions are interpreted (`CodegenFallback`):
every fold walks its array element by element outside whole-stage
codegen, so a vector query's task time is its fold count.  One
kernel keeps that count at the minimum the answer needs:

* per VECTOR, one self-dot ``s = e . e``: `_vectors` computes it where
  the vector is read, and `_rank_cells` where a centroid is built
  (``cs``);
* per scored PAIR, one dot: ``cosine(a, b, sa, sb) = (a . b) /
  sqrt(sa * sb)`` -- the same expression tree as the three-fold
  ``(a . b) / sqrt((a . a) * (b . b))``, so the doubles are the same;
* per ROW of a centroid ranking, one dot per centroid, evaluated once:
  `_rank_cells`'s ``cluster`` key is non-null, so no inferred
  ``isnotnull`` copy of the ranking lands in the join condition.

Scale notes
-----------
* Brute force is O(Q x N): fine for small query sets (the query side
  is broadcast so the corpus never shuffles), the wrong shape for
  all-pairs at 100 TB.
* The LSH variant buckets vectors by an 8-bit hyperplane-sign sketch
  (random-hyperplane LSH with axis-aligned planes) and only scores
  within-bucket pairs: candidate generation is an equi-join on the
  bucket key -- the same join-not-crossjoin discipline as
  dedup_minhash_lsh.  More planes/tables => recall/cost knob.
* An IVF refinement (k-means coarse quantizer) would replace the sign
  sketch with learned centroids; the join shape is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import local_frame, read_table
from .registry import query

N_QUERIES = 5
TOP_K = 10
BUCKET_BITS = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance ``sum((a_i - b_i)^2)``, one fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _vectors(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    """The `embeddings` table as ``vec_id, *extra, e, s``: ``e`` the
    vector as doubles, ``s`` its self-dot ``e . e``, computed once per
    vector so every cosine against the row reuses it.  Columns a query
    never reads (``s`` included) are pruned from its plan."""
    v = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        *extra,
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
    )
    return v.select("*", _dot(F.col("e"), F.col("e")).alias("s"))


def cosine(a: Column, b: Column, sa: Column, sb: Column) -> Column:
    """cos(a,b) = dot(a,b)/sqrt(sa*sb), with ``sa``/``sb`` the vectors'
    un-rooted self-dots (`_vectors`' ``s``, a centroid's ``cs``): ONE
    fold per pair.  The expression tree is the oracle's
    ``dot(a,b)/sqrt(dot(a,a)*dot(b,b))`` with the self-dots read, not
    recomputed, so the doubles agree bit for bit (sqrt(sa)*sqrt(sb)
    would differ from sqrt(sa*sb) in the last ulps)."""
    return _dot(a, b) / F.sqrt(sa * sb)


def _rank_cells(
    vectors: DataFrame, centroids: DataFrame, n: int = 1
) -> DataFrame:
    """Rank the ``centroids`` (``cid, ce``) for every row of
    ``vectors`` (``e, s`` plus any columns, all kept) by (rounded
    cosine desc, cid asc): the centroids collapse to ONE broadcast
    array row, each carrying its self-dot ``cs``, and each vector
    ranks them locally -- a narrow map, zero shuffle.  Adds
    ``cluster`` (the nearest cid) and ``cells`` (the ``n`` nearest
    cids, nearest first).

    ``cluster`` is null only when there is no centroid at all, and
    then no probe exists to match it; coalescing it to -1 tells Spark
    the key is non-null, so a later equi-join on it infers no
    ``isnotnull(cluster)`` -- a filter the optimizer would push through
    the projection into the broadcast join's condition, evaluating the
    whole ranking a second time per row.  Explode ``cells`` with
    ``explode_outer``/``posexplode_outer`` for the same reason: an
    inner explode infers ``size(cells) > 0`` and pushes it down the
    same way (an empty ``cells`` yields a null cell, which matches
    nothing)."""
    cells = centroids.select(
        F.struct("cid", "ce", _dot(F.col("ce"), F.col("ce")).alias("cs")).alias("c")
    ).agg(F.array_sort(F.collect_list("c")).alias("cents"))
    ranked = F.array_sort(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                (-F.round(cosine(F.col("e"), c["ce"], F.col("s"), c["cs"]), 4))
                .alias("neg_sim"),
                c["cid"].alias("cid"),
            ),
        )
    )
    keep = vectors.columns
    return (
        vectors.join(F.broadcast(cells))
        .select(*keep, ranked.alias("ranked"))
        .select(
            *keep,
            F.coalesce(F.element_at("ranked", 1)["cid"], F.lit(-1)).alias("cluster"),
            F.transform(F.slice("ranked", 1, n), lambda c: c["cid"]).alias("cells"),
        )
    )


def _query_sim() -> Column:
    """``sim``: the rounded cosine of a query vector (``qe``, ``qs``)
    and a corpus vector (``e``, ``s``), the score every top-k ranks by."""
    return F.round(
        cosine(F.col("qe"), F.col("e"), F.col("qs"), F.col("s")), 4
    ).alias("sim")


def _top(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best ``neighbor_id`` per ``query_id`` by (``sim`` desc,
    ``neighbor_id``), with their ``rank``: a unique order key, so both
    engines keep the same rows."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return scored.select("*", F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= k
    )


def _bucket() -> Column:
    """The 8-bit hyperplane-sign LSH key of ``e``."""
    return sum(
        F.when(F.element_at("e", i + 1) > 0, F.lit(1 << i)).otherwise(0)
        for i in range(BUCKET_BITS)
    )


_COS_SQL = (
    "list_dot_product({a}, {b}) / "
    "sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b}))"
)


# ---------------------------------------------------------------------------
# Brute-force cosine top-k
# ---------------------------------------------------------------------------
@query(
    "similarity_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             round({_COS_SQL.format(a="q.qe", b="v.e")}, 4) AS sim
      FROM q JOIN v ON v.vec_id <> q.query_id
    )
    SELECT * FROM (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for the first 5 vectors.  The tiny
    query side is broadcast; ranking is over (rounded sim, neighbor_id)
    so results are deterministic across engines."""
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("s").alias("qs"),
    )
    scored = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _query_sim())
    )
    return _top(scored, TOP_K)


# ---------------------------------------------------------------------------
# Sign-bucket LSH approximate neighbors
# ---------------------------------------------------------------------------
_BUCKET_SQL = (
    "("
    + " + ".join(
        f"(CASE WHEN e[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(BUCKET_BITS)
    )
    + ")"
)


@query(
    "similarity_lsh_bucket",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    b AS (SELECT vec_id, e, {_BUCKET_SQL} AS bucket FROM v),
    q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM b WHERE vec_id < 20),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round({_COS_SQL.format(a="q.qe", b="c.e")}, 4) AS sim
      FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
    )
    SELECT * FROM (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def similarity_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighbors: bucket every vector by the sign pattern
    of its first 8 dims (hyperplane-sign LSH), score only within the
    query's bucket, keep top-5.  Candidate generation is an equi-join
    on the bucket key -- N/256 of the corpus per query instead of N."""
    v = _vectors(spark, sf_dir)
    b = v.withColumn("bucket", _bucket())
    q = b.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("s").alias("qs"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        b.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _query_sim())
    )
    return _top(scored, 5)


# ---------------------------------------------------------------------------
# IVF coarse-quantizer approximate neighbors
# ---------------------------------------------------------------------------
N_CENTROIDS = 8
N_PROBE = 2

_IVF_COS = _COS_SQL.format(a="v.e", b="cent.ce")


@query(
    "similarity_ivf",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {N_CENTROIDS}),
    cscore AS (
      SELECT v.vec_id, cent.cid, round({_IVF_COS}, 4) AS csim, v.e
      FROM v CROSS JOIN cent
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY csim DESC, cid) AS rnk
      FROM cscore
    ),
    assign AS (SELECT vec_id, cid AS cluster, e FROM ranked WHERE rnk = 1),
    probes AS (
      SELECT vec_id AS query_id, cid AS cluster, e AS qe
      FROM ranked WHERE vec_id < {N_QUERIES} AND rnk <= {N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round({_COS_SQL.format(a="p.qe", b="a.e")}, 4) AS sim
      FROM probes p JOIN assign a
        ON a.cluster = p.cluster AND a.vec_id <> p.query_id
    )
    SELECT * FROM (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a coarse quantizer assigns every vector to its
    nearest centroid, queries probe their N_PROBE nearest cells, and
    exact scoring runs only inside probed cells.

    The centroid set here is deterministic (the first N_CENTROIDS
    vectors) so the DuckDB oracle can check values; in production the
    centroids come from a k-means sample and the plan is unchanged.

    Scale shape: centroids are collected into ONE array broadcast to
    every row, and assignment is `_rank_cells`' higher-order-function
    argmax -- a narrow map over the corpus, zero shuffle (vs. the
    naive crossJoin + window which shuffles N x K rows), one fold per
    centroid per vector.  Candidate generation is then an equi-join on
    the cell id, broadcast on the tiny probe side: the corpus shuffles
    once, on cluster."""
    v = _vectors(spark, sf_dir)
    cents = v.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    va = _rank_cells(v, cents, N_PROBE)
    assign = va.select("vec_id", "e", "s", "cluster")
    probes = va.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("s").alias("qs"),
        F.explode_outer("cells").alias("pcell"),
    )
    scored = (
        assign.join(
            F.broadcast(probes),
            (F.col("cluster") == F.col("pcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _query_sim())
    )
    return _top(scored, 5)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (bucketed candidates)
# ---------------------------------------------------------------------------
@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    b AS (SELECT vec_id, label, e, {_BUCKET_SQL} AS bucket FROM v)
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           round({_COS_SQL.format(a="a.e", b="c.e")}, 4) AS sim,
           CAST(a.label = c.label AS BOOLEAN) AS same_label
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE {_COS_SQL.format(a="a.e", b="c.e")} >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup candidates: pairs sharing a sign
    bucket with cosine >= 0.35.  The bucket equi-join keeps the
    pairwise work at ~N^2/256 instead of N^2; the threshold filter is
    pushed into the join's projection."""
    v = _vectors(spark, sf_dir, "label")
    b = v.withColumn("bucket", _bucket())
    a, c = b.alias("a"), b.alias("c")
    sim = cosine(F.col("a.e"), F.col("c.e"), F.col("a.s"), F.col("c.s"))
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .filter(sim >= 0.35)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("c.vec_id").alias("vec_b"),
            F.round(sim, 4).alias("sim"),
            (F.col("a.label") == F.col("c.label")).alias("same_label"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup threshold calibration sweep (one candidate pass)
# ---------------------------------------------------------------------------
_SWEEP_THRESHOLDS = (0.30, 0.35, 0.40, 0.50)


def _sweep_thr_oracle() -> str:
    cos = _COS_SQL.format(a="a.e", b="c.e")
    branches = "\n    UNION ALL\n".join(
        f"""
    SELECT CAST({t} AS DOUBLE) AS threshold,
           CAST(sum(CASE WHEN sim >= {t} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs,
           CAST(count(DISTINCT CASE WHEN sim >= {t} THEN vec_b END)
                AS BIGINT) AS n_docs_dropped
    FROM p"""
        for t in _SWEEP_THRESHOLDS
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    b AS (SELECT vec_id, e, {_BUCKET_SQL} AS bucket FROM v),
    p AS (
      SELECT round({cos}, 4) AS sim, c.vec_id AS vec_b
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    )
    {branches}
    """


@query("dedup_threshold_sweep", oracle=_sweep_thr_oracle())
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold CALIBRATION: the pair count and the distinct
    drop-set size (higher-id policy, dedup_embedding_cosine's rule) at
    every candidate cosine threshold, from ONE pass over the
    sign-bucket candidate pairs -- the sweep a curation team runs
    before committing a dedup threshold, because the kept-corpus size
    is a step function of it and re-running the pipeline per probe
    threshold is the expensive way to learn that.

    Scale: candidate generation is the dedup_embedding_cosine bucket
    equi-join (~N^2/2^{bits} pairs, never all-pairs); the sweep is
    |thresholds| conditional aggregates over that ONE pair stream
    (each a map-side-combinable sum / bounded distinct), so adding a
    threshold costs one column, not one pipeline run.  The fan-out to
    output rows multiplies a single aggregate row."""
    v = _vectors(spark, sf_dir)
    b = v.withColumn("bucket", _bucket())
    a, c = b.alias("a"), b.alias("c")
    sim = F.round(
        cosine(F.col("a.e"), F.col("c.e"), F.col("a.s"), F.col("c.s")), 4
    )
    pairs = a.join(
        c,
        (F.col("a.bucket") == F.col("c.bucket"))
        & (F.col("a.vec_id") < F.col("c.vec_id")),
    ).select(sim.alias("sim"), F.col("c.vec_id").alias("vec_b"))
    agg = pairs.agg(
        *[
            F.sum(F.when(F.col("sim") >= t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"np_{i}")
            for i, t in enumerate(_SWEEP_THRESHOLDS)
        ],
        *[
            F.countDistinct(
                F.when(F.col("sim") >= t, F.col("vec_b"))
            )
            .cast("bigint")
            .alias(f"nd_{i}")
            for i, t in enumerate(_SWEEP_THRESHOLDS)
        ],
    )
    fanout = F.array(
        *[
            F.struct(
                F.lit(float(t)).alias("threshold"),
                F.col(f"np_{i}").alias("n_pairs"),
                F.col(f"nd_{i}").alias("n_docs_dropped"),
            )
            for i, t in enumerate(_SWEEP_THRESHOLDS)
        ]
    )
    return agg.select(F.explode(fanout).alias("r")).select("r.*")


dedup_threshold_sweep.__doc__ = dedup_threshold_sweep.__doc__.format(
    bits=BUCKET_BITS
)


# ---------------------------------------------------------------------------
# Embedding hygiene stats (norms per label)
# ---------------------------------------------------------------------------
@query(
    "embedding_norm_stats",
    oracle="""
    WITH v AS (
      SELECT label, sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
    SELECT label, count(*) AS n_vectors,
           round(avg(nrm), 4) AS avg_norm,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm
    FROM v GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics -- the standard pre-ANN sanity
    check (catches zero/unnormalized vectors before they poison cosine
    scores)."""
    v = _vectors(spark, sf_dir, "label")
    return (
        v.select("label", F.sqrt("s").alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Per-label centroids (element-wise vector mean)
# ---------------------------------------------------------------------------
@query(
    "embedding_label_centroids",
    oracle="""
    SELECT label, p.pos,
           round(avg(embedding[p.pos]), 6) AS centroid_val,
           count(*)                        AS n_vectors
    FROM embeddings, (SELECT unnest(range(1, 65)) AS pos) p
    GROUP BY label, p.pos
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension): the
    element-wise mean computed via posexplode -> keyed aggregation.
    This is the scalable shape for vector averaging -- the shuffle
    carries (label, pos) partials (POSITIONS x LABELS rows), never
    whole vectors, and it is exactly the reduce step of a distributed
    k-means iteration (plans/similarity.py::similarity_ivf consumes
    such centroids)."""
    v = _vectors(spark, sf_dir, "label")
    exploded = v.select("label", F.posexplode("e").alias("pos0", "val"))
    return (
        exploded.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(F.avg("val"), 6).alias("centroid_val"),
            F.count("*").alias("n_vectors"),
        )
    )


# ---------------------------------------------------------------------------
# K-means, 2 deterministic iterations (assign -> recompute -> assign)
# ---------------------------------------------------------------------------
_KM_K = 8

_ASSIGN_SQL = """
      SELECT vec_id, e, cid AS cluster FROM (
        SELECT v.vec_id, v.e, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round({cos}, 4) DESC, c.cid) AS rnk
        FROM {vtab} v CROSS JOIN {ctab} c
      ) WHERE rnk = 1
"""

_RECOMPUTE_SQL = """
      SELECT cluster AS cid, list(cv ORDER BY pos) AS ce FROM (
        SELECT a.cluster, p.pos, round(avg(a.e[p.pos]), 6) AS cv
        FROM {atab} a, (SELECT unnest(range(1, 65)) AS pos) p
        GROUP BY a.cluster, p.pos
      ) GROUP BY cluster
"""


def _km_seed(vectors: DataFrame) -> DataFrame:
    """Deterministic seeds: the first K vectors by key."""
    return vectors.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )


def _km_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: `_rank_cells`' broadcast-array
    argmax (one fold per centroid per vector, the vector's self-dot
    read from ``s``), keeping every column of ``vectors`` -- the
    convergence loop carries the previous assignment this way.
    Similarities round to 4 with cid tiebreak so both engines pick
    identical winners."""
    return _rank_cells(vectors, centroids).drop("cells")


def _km_recompute(assigned: DataFrame) -> DataFrame:
    """Centroid recompute as posexplode -> (cluster, dim) aggregation:
    the shuffle carries K x DIMS partial means, never whole vectors.
    Components round to 6 so both engines iterate on identical
    doubles.  (A per-dimension avg COLUMN grid -- 64 avg(e[i])
    aggregates in one groupBy -- was tried in the r11 optimization
    pass and REVERTED: the 64-wide aggregate compiles a huge codegen
    method (cold first-run cost 17.8 s vs 1.9 s for this form at
    sf0.1) and evaluates 64 array element_at lookups per row, losing
    to the explode's streamed single pass warm as well.)"""
    per_dim = (
        assigned.select("cluster", F.posexplode("e").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
    )
    return (
        per_dim.groupBy(F.col("cluster").alias("cid"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("ce")
        )
    )


@query(
    "kmeans_2iter",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent0 AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {_KM_K}),
    a1 AS ({_ASSIGN_SQL.format(cos="list_dot_product(v.e, c.ce) / sqrt(list_dot_product(v.e, v.e) * list_dot_product(c.ce, c.ce))", vtab="v", ctab="cent0")}),
    cent1 AS ({_RECOMPUTE_SQL.format(atab="a1")}),
    a2 AS ({_ASSIGN_SQL.format(cos="list_dot_product(v.e, c.ce) / sqrt(list_dot_product(v.e, v.e) * list_dot_product(c.ce, c.ce))", vtab="v", ctab="cent1")})
    SELECT cluster AS cluster_id, count(*) AS n_vectors
    FROM a2 GROUP BY cluster
    """,
)
def kmeans_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means, two deterministic iterations: seed
    centroids (first K vectors), assign every vector to its nearest
    centroid by cosine, recompute centroids as per-cluster
    element-wise means, re-assign; report final cluster sizes.

    The iteration is the production loop shape: assignment is a
    broadcast-centroid-array argmax (narrow map, zero shuffle --
    same machinery as similarity_ivf), recomputation is
    posexplode -> (cluster, dim) aggregation (shuffles POSITIONS x K
    partials, never whole vectors -- embedding_label_centroids'
    shape).  Determinism for the oracle: similarities round to 4
    with cid tiebreak, recomputed centroid components round to 6 so
    both engines iterate on identical doubles.  The DuckDB oracle
    unrolls the same two iterations in SQL."""
    v = _vectors(spark, sf_dir)
    a1 = _km_assign(v, _km_seed(v))
    cent1 = _km_recompute(a1)
    a2 = _km_assign(v, cent1)
    return a2.groupBy(F.col("cluster").alias("cluster_id")).agg(
        F.count("*").alias("n_vectors")
    )


# ---------------------------------------------------------------------------
# K-means, convergence-looped (until-stable assign/recompute)
# ---------------------------------------------------------------------------
# Round budget: the loop stops earlier at any fixed point; the cap
# bounds cost on data that keeps oscillating.  Correctness does not
# depend on the value (the oracle unrolls exactly this many rounds).
_KM_MAX_ITERS = 5


def _km_unrolled_oracle(n_iters: int) -> str:
    """Oracle twin of the convergence loop: n_iters assign/recompute
    rounds unrolled as a CTE chain.  The Spark side stops early only
    at a genuine fixed point (assignments unchanged), where further
    unrolled rounds are identity -- so both forms agree whether or not
    the loop converges before the cap."""
    cos = _COS_SQL.format(a="v.e", b="c.ce")
    ctes = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        f"cent0 AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {_KM_K})",
    ]
    for i in range(1, n_iters + 1):
        ctes.append(
            f"a{i} AS ({_ASSIGN_SQL.format(cos=cos, vtab='v', ctab=f'cent{i - 1}')})"
        )
        if i < n_iters:
            ctes.append(f"cent{i} AS ({_RECOMPUTE_SQL.format(atab=f'a{i}')})")
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT cluster AS cluster_id, count(*) AS n_vectors
    FROM a{n_iters} GROUP BY cluster
    """
    )


@query("kmeans_converged", oracle=_km_unrolled_oracle(_KM_MAX_ITERS))
def kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means looped until the assignment is stable (or _KM_MAX_ITERS
    rounds), reusing the 2-iter query's assign/recompute plan shapes
    and connected_components' driver-loop pattern (plans/graph.py:49):
    localCheckpoint each round truncates lineage so the plan never
    grows, and the convergence probe is an Observation metric attached
    to the round's plan -- the eager checkpoint that materializes the
    re-assignment also delivers the changed-count, so each round is
    exactly ONE job (previously checkpoint + a separate count).  At
    100 TB the probe is free by construction: it is computed inline
    while the round's partitions stream through the checkpoint."""
    v = _vectors(spark, sf_dir).localCheckpoint()
    assigned = _km_assign(v, _km_seed(v)).localCheckpoint()
    for _ in range(1, _KM_MAX_ITERS):
        # Re-assign with the previous cluster riding along so the
        # probe is a row-local comparison -- no join, no extra
        # shuffle, and (via observe) no extra action.
        prev = assigned.withColumnRenamed("cluster", "prev")
        probe = Observation()
        nxt = (
            _km_assign(prev, _km_recompute(assigned))
            .observe(
                probe,
                F.count(
                    F.when(F.col("cluster") != F.col("prev"), 1)
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        assigned = nxt.drop("prev")
        if probe.get["changed"] == 0:
            break
    return assigned.groupBy(F.col("cluster").alias("cluster_id")).agg(
        F.count("*").alias("n_vectors")
    )


# ---------------------------------------------------------------------------
# Centered residual norms (vector arithmetic between array columns)
# ---------------------------------------------------------------------------
@query(
    "embedding_centered_norms",
    oracle="""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (
      SELECT label, list(cv ORDER BY pos) AS c FROM (
        SELECT label, p.pos, avg(e[p.pos]) AS cv
        FROM v, (SELECT unnest(range(1, 65)) AS pos) p
        GROUP BY label, p.pos
      ) GROUP BY label
    ),
    resid AS (
      SELECT v.label,
             list_transform(range(1, 65), i -> v.e[i] - cent.c[i]) AS d
      FROM v JOIN cent USING (label)
    )
    SELECT label,
           count(*) AS n_vectors,
           round(avg(sqrt(list_dot_product(d, d))), 4) AS avg_residual_norm,
           round(max(sqrt(list_dot_product(d, d))), 4) AS max_residual_norm
    FROM resid GROUP BY label
    """,
)
def embedding_centered_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label dispersion: the L2 norm of each vector minus its
    label centroid (one squared-difference fold between the row's
    array and the joined centroid array), aggregated per label -- the
    spread statistic behind cluster-quality checks and whitening.
    Centroids are tiny (LABELS x DIM) and broadcast; the fold is a
    narrow map; unrounded centroid doubles agree
    across engines because avg() over the same values is
    deterministic per (label, dim) group."""
    v = _vectors(spark, sf_dir, "label")
    per_dim = (
        v.select("label", F.posexplode("e").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("cv"))
    )
    cents = per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))),
            lambda s: s["cv"],
        ).alias("c")
    )
    resid_norm = F.sqrt(_sq_dist(F.col("e"), F.col("c")))
    return (
        v.join(F.broadcast(cents), "label")
        .select("label", resid_norm.alias("rn"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("rn"), 4).alias("avg_residual_norm"),
            F.round(F.max("rn"), 4).alias("max_residual_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (dimensionality reduction)
# ---------------------------------------------------------------------------
_JL_OUT = 8  # target dims
_JL_IN = 64  # source dims
_JL_HEX = "0123456789abcdef"


@query(
    "embedding_jl_projection",
    oracle=rf"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    p AS (
      SELECT v.vec_id, v.e, j.j,
             list_sum(list_transform(range(1, {_JL_IN + 1}),
               i -> v.e[i] * (CASE WHEN (instr('{_JL_HEX}',
                      substring(md5(CAST(i AS VARCHAR) || '_'
                                    || CAST(j.j AS VARCHAR)), 1, 1)) - 1)
                      % 2 = 1 THEN 1.0 ELSE -1.0 END)))
               / sqrt({_JL_OUT}.0) AS pj
      FROM v CROSS JOIN (SELECT unnest(range({_JL_OUT})) AS j) j
    )
    SELECT vec_id,
           round(sqrt(list_dot_product(e, e)), 4)  AS norm_in,
           round(sqrt(sum(pj * pj)), 4)            AS norm_out,
           round(sqrt(sum(pj * pj))
                 / sqrt(list_dot_product(e, e)), 4) AS distortion
    FROM p GROUP BY vec_id, e
    """,
)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection {din} -> {dout} dims
    with a deterministic +/-1 sign matrix derived from md5(i_j) --
    the embedding-pipeline compression step (cheap ANN pre-filter,
    sketch transport) whose norm-preservation guarantee the output
    exposes per vector (distortion = ||Px|| / ||x||, concentrated
    around 1).  The md5-derived sign matrix is a CONSTANT {din}x{dout}
    table, so it is computed ONCE driver-side (hashlib, identical
    recipe to the oracle's in-SQL md5) and shipped as a nested array
    literal; each output component is then a pure zip_with-multiply
    fold -- recomputing the hashes per row, as a first cut did, costs
    din*dout md5 calls per vector (~2.5M at sf0.1) for values that
    never change.  The projection stays a NARROW map: no shuffle, no
    broadcast state, embarrassingly parallel at any corpus size.  The
    oracle recomputes the identical fold in DuckDB's list algebra."""
    v = _vectors(spark, sf_dir)

    import hashlib

    signs = [
        [
            1.0
            if int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0], 16) % 2 == 1
            else -1.0
            for i in range(1, _JL_IN + 1)
        ]
        for j in range(_JL_OUT)
    ]
    signs_col = F.array(
        *[F.array(*[F.lit(x) for x in row]) for row in signs]
    )

    def _proj(j: Column) -> Column:
        srow = F.element_at(F.col("signs"), (j + 1).cast("int"))
        return F.aggregate(
            F.zip_with(F.col("e"), srow, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) / F.sqrt(F.lit(float(_JL_OUT)))

    proj = F.transform(
        F.sequence(F.lit(0), F.lit(_JL_OUT - 1)), lambda j: _proj(j)
    )
    v = v.withColumn("signs", signs_col)
    norm_in = F.sqrt(F.col("s"))
    norm_out = F.sqrt(
        F.aggregate(F.col("p"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        v.select("vec_id", "s", proj.alias("p"))
        .select(
            "vec_id",
            F.round(norm_in, 4).alias("norm_in"),
            F.round(norm_out, 4).alias("norm_out"),
            F.round(norm_out / norm_in, 4).alias("distortion"),
        )
    )


embedding_jl_projection.__doc__ = embedding_jl_projection.__doc__.format(
    din=_JL_IN, dout=_JL_OUT
)


# ---------------------------------------------------------------------------
# Product-quantization codebooks (one training iteration per subspace)
# ---------------------------------------------------------------------------
_PQ_SUBS = 4  # subspaces
_PQ_SUBDIM = _JL_IN // _PQ_SUBS  # 16 dims each
_PQ_CODES = 4  # codes per subspace


@query(
    "pq_codebooks",
    oracle=rf"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sub AS (
      SELECT v.vec_id, s.s,
             v.e[s.s * {_PQ_SUBDIM} + 1 : (s.s + 1) * {_PQ_SUBDIM}] AS x
      FROM v CROSS JOIN (SELECT unnest(range({_PQ_SUBS})) AS s) s
    ),
    seeds AS (
      SELECT s, vec_id AS code, x AS c FROM sub WHERE vec_id < {_PQ_CODES}
    ),
    assigned AS (
      SELECT sub.vec_id, sub.s, sub.x,
             min_by(seeds.code,
                    CAST(round(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                       i -> (sub.x[i] - seeds.c[i]) * (sub.x[i] - seeds.c[i])))
                       * 10000, 0) AS BIGINT) * 1000 + seeds.code) AS code
      FROM sub JOIN seeds ON sub.s = seeds.s
      GROUP BY sub.vec_id, sub.s, sub.x
    ),
    recomputed AS (
      SELECT s, code, p.pos, round(avg(x[p.pos]), 6) AS cv
      FROM assigned
      CROSS JOIN (SELECT unnest(range(1, {_PQ_SUBDIM + 1})) AS pos) p
      GROUP BY s, code, p.pos
    )
    SELECT r.s                       AS subspace,
           r.code,
           a.n_assigned,
           round(sqrt(sum(r.cv * r.cv)), 4) AS centroid_norm
    FROM recomputed r
    JOIN (SELECT s, code, count(*) AS n_assigned
          FROM assigned GROUP BY s, code) a
      ON a.s = r.s AND a.code = r.code
    GROUP BY r.s, r.code, a.n_assigned
    """,
)
def pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training, one k-means iteration
    per subspace: split every {din}-dim embedding into {subs} x
    {subdim}-dim subvectors, assign each subvector to its nearest of
    {codes} seed centroids by L2 (distance quantized to 1e-4 and
    packed with the code into one integer key so argmin + tiebreak
    are engine-independent), recompute the codebooks as per-(subspace,
    code, dim) means -- the compression step behind IVF-PQ ANN
    indexes (a vector stores {subs} small codes instead of {din}
    floats).  The subspace split is a narrow slice fan-out ({subs}
    rows per vector); assignment is a broadcast of the {subs}x{codes}
    seed table with the distance folded over the subvector; the
    recompute shuffles (subspace, code, dim) partial means, never
    whole vectors -- kmeans_2iter's discipline, applied per subspace
    in the SAME job."""
    v = _vectors(spark, sf_dir)
    sub = v.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1))).alias("s"),
        "e",
    ).select(
        "vec_id",
        "s",
        F.slice(
            F.col("e"), F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM
        ).alias("x"),
    )
    seeds = sub.filter(F.col("vec_id") < _PQ_CODES).select(
        F.col("s").alias("c_s"), F.col("vec_id").alias("code"), F.col("x").alias("c")
    )

    assigned = (
        sub.join(F.broadcast(seeds), sub.s == seeds.c_s)
        .groupBy("vec_id", "s", "x")
        .agg(
            F.min_by(
                "code",
                F.round(_sq_dist(F.col("x"), F.col("c")) * 10000, 0).cast("bigint")
                * 1000
                + F.col("code"),
            ).alias("code")
        )
    )
    recomputed = (
        assigned.select("s", "code", F.posexplode("x").alias("pos", "val"))
        .withColumn("pos", F.col("pos") + 1)
        .groupBy("s", "code", "pos")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
    )
    counts = assigned.groupBy("s", "code").agg(
        F.count("*").alias("n_assigned")
    )
    return (
        recomputed.groupBy(F.col("s").alias("subspace"), "code")
        .agg(F.round(F.sqrt(F.sum(F.col("cv") * F.col("cv"))), 4).alias("centroid_norm"))
        .join(
            counts.select(
                F.col("s").alias("subspace"), "code", "n_assigned"
            ),
            ["subspace", "code"],
        )
        .select("subspace", "code", "n_assigned", "centroid_norm")
    )


pq_codebooks.__doc__ = pq_codebooks.__doc__.format(
    din=_JL_IN, subs=_PQ_SUBS, subdim=_PQ_SUBDIM, codes=_PQ_CODES
)


# ---------------------------------------------------------------------------
# Product-quantization encode (compress the corpus with trained codebooks)
# ---------------------------------------------------------------------------
@query(
    "pq_encode",
    oracle=rf"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sub AS (
      SELECT v.vec_id, s.s,
             v.e[s.s * {_PQ_SUBDIM} + 1 : (s.s + 1) * {_PQ_SUBDIM}] AS x
      FROM v CROSS JOIN (SELECT unnest(range({_PQ_SUBS})) AS s) s
    ),
    seeds AS (
      SELECT s, vec_id AS code, x AS c FROM sub WHERE vec_id < {_PQ_CODES}
    ),
    assigned AS (
      SELECT sub.vec_id, sub.s, sub.x,
             min_by(seeds.code,
                    CAST(round(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                       i -> (sub.x[i] - seeds.c[i]) * (sub.x[i] - seeds.c[i])))
                       * 10000, 0) AS BIGINT) * 1000 + seeds.code) AS code
      FROM sub JOIN seeds ON sub.s = seeds.s
      GROUP BY sub.vec_id, sub.s, sub.x
    ),
    cb AS (
      SELECT s, code, list(cv ORDER BY pos) AS c FROM (
        SELECT s, code, p.pos, round(avg(x[p.pos]), 6) AS cv
        FROM assigned
        CROSS JOIN (SELECT unnest(range(1, {_PQ_SUBDIM + 1})) AS pos) p
        GROUP BY s, code, p.pos
      ) GROUP BY s, code
    ),
    enc AS (
      SELECT sub.vec_id, sub.s,
             min_by(cb.code,
                    CAST(round(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                       i -> (sub.x[i] - cb.c[i]) * (sub.x[i] - cb.c[i])))
                       * 10000, 0) AS BIGINT) * 1000 + cb.code) AS code,
             min_by(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                       i -> (sub.x[i] - cb.c[i]) * (sub.x[i] - cb.c[i]))),
                    CAST(round(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                       i -> (sub.x[i] - cb.c[i]) * (sub.x[i] - cb.c[i])))
                       * 10000, 0) AS BIGINT) * 1000 + cb.code) AS sq_err
      FROM sub JOIN cb ON sub.s = cb.s
      GROUP BY sub.vec_id, sub.s
    )
    SELECT s AS subspace, code,
           count(*)                   AS n_encoded,
           round(avg(sq_err), 6)      AS avg_sq_err
    FROM enc GROUP BY s, code
    """,
)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ENCODE -- the compression pass that follows pq_codebooks'
    training: every vector's {subs} subvectors are assigned to their
    nearest TRAINED centroid (same quantized-distance + code tiebreak
    as training, so the argmin is engine-independent), yielding the
    {subs}-byte code a PQ index stores per vector, plus the
    reconstruction error the compression costs.  Output: per
    (subspace, code) cell population and mean squared quantization
    error -- the table one watches to size {codes} at deploy.

    Plan shape: the trained codebook is {subs} x {codes} tiny rows
    (broadcast); encoding is one fan-out join + per-(vec, subspace)
    argmin aggregate; the corpus never shuffles whole vectors --
    exactly how a 100 TB corpus gets compressed before ANN serving
    (the oracle re-derives the training chain + encode in DuckDB's
    list algebra)."""
    v = _vectors(spark, sf_dir)
    sub = v.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1))).alias("s"),
        "e",
    ).select(
        "vec_id",
        "s",
        F.slice(F.col("e"), F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("x"),
    )
    seeds = sub.filter(F.col("vec_id") < _PQ_CODES).select(
        F.col("s").alias("c_s"),
        F.col("vec_id").alias("code"),
        F.col("x").alias("c"),
    )

    def _key(dist: Column, code: Column) -> Column:
        return F.round(dist * 10000, 0).cast("bigint") * 1000 + code

    assigned = (
        sub.join(F.broadcast(seeds), sub.s == seeds.c_s)
        .groupBy("vec_id", "s", "x")
        .agg(
            F.min_by(
                "code", _key(_sq_dist(F.col("x"), F.col("c")), F.col("code"))
            ).alias("code")
        )
    )
    cb = (
        assigned.select("s", "code", F.posexplode("x").alias("pos", "val"))
        .withColumn("pos", F.col("pos") + 1)
        .groupBy("s", "code", "pos")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
        .groupBy(F.col("s").alias("c_s"), "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda t: t.cv,
            ).alias("c")
        )
    )
    dist = _sq_dist(F.col("x"), F.col("c"))
    enc = (
        sub.join(F.broadcast(cb), sub.s == cb.c_s)
        .groupBy("vec_id", "s")
        .agg(
            F.min_by("code", _key(dist, F.col("code"))).alias("code"),
            F.min_by(dist, _key(dist, F.col("code"))).alias("sq_err"),
        )
    )
    return enc.groupBy(F.col("s").alias("subspace"), "code").agg(
        F.count("*").alias("n_encoded"),
        F.round(F.avg("sq_err"), 6).alias("avg_sq_err"),
    )


pq_encode.__doc__ = pq_encode.__doc__.format(subs=_PQ_SUBS, codes=_PQ_CODES)


# ---------------------------------------------------------------------------
# ANN recall evaluation (index quality monitoring)
# ---------------------------------------------------------------------------
_RECALL_K = 5
_RECALL_NQ = 20


@query(
    "similarity_recall",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    b AS (SELECT vec_id, e, {_BUCKET_SQL} AS bucket FROM v),
    q AS (SELECT vec_id AS query_id, e AS qe, bucket
          FROM b WHERE vec_id < {_RECALL_NQ}),
    ex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_COS_SQL.format(a="q.qe", b="v.e")}, 4)
                            DESC, v.vec_id) AS rank
        FROM q JOIN v ON v.vec_id <> q.query_id
      ) WHERE rank <= {_RECALL_K}
    ),
    ap AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_COS_SQL.format(a="q.qe", b="c.e")}, 4)
                            DESC, c.vec_id) AS rank
        FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
      ) WHERE rank <= {_RECALL_K}
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / {float(_RECALL_K)}, 2) AS recall_at_k
    FROM ex e LEFT JOIN ap a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY 1
    """,
)
def similarity_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of the sign-bucket LSH index against exact
    brute-force cosine top-{k}, per query -- the metric an ANN
    deployment monitors continuously (index drift, bucket imbalance,
    recall regressions after re-training) and the honest statement of
    what the approximate path trades away.  Both rankings break ties
    identically (rounded sim desc, neighbor id), so the compared sets
    are deterministic across engines.

    Scale: the exact arm is the monitoring-sample pattern -- you
    never brute-force the full corpus against all queries, you
    brute-force a SMALL query sample (broadcast) against one corpus
    scan; the LSH arm touches ~N/2^{bits} of the corpus per query via
    the bucket equi-join; the set intersection is a join on
    (query_id, neighbor_id) over 2 x {nq}x{k} rows."""
    v = _vectors(spark, sf_dir)
    b = v.withColumn("bucket", _bucket())
    q = b.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("s").alias("qs"),
        F.col("bucket").alias("qbucket"),
    )
    ex = _top(
        v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id", F.col("vec_id").alias("neighbor_id"), _query_sim()
        ),
        _RECALL_K,
    ).select("query_id", "neighbor_id")
    ap = _top(
        b.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        ).select("query_id", F.col("vec_id").alias("neighbor_id"), _query_sim()),
        _RECALL_K,
    ).select(
        F.col("query_id").alias("a_query_id"),
        F.col("neighbor_id").alias("a_neighbor_id"),
    )
    return (
        ex.join(
            ap,
            (ex.query_id == ap.a_query_id)
            & (ex.neighbor_id == ap.a_neighbor_id),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("a_neighbor_id").cast("bigint").alias("n_hits"),
            F.round(
                F.count("a_neighbor_id") / F.lit(float(_RECALL_K)), 2
            ).alias("recall_at_k"),
        )
    )


similarity_recall.__doc__ = similarity_recall.__doc__.format(
    k=_RECALL_K, bits=BUCKET_BITS, nq=_RECALL_NQ
)


# ---------------------------------------------------------------------------
# PQ ADC search (asymmetric-distance top-k over the compressed corpus)
# ---------------------------------------------------------------------------
_ADC_NQ = 8  # query vectors (vec_id < _ADC_NQ)
_ADC_K = 5  # results per query


@query(
    "pq_adc_search",
    oracle=rf"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sub AS (
      SELECT v.vec_id, s.s,
             v.e[s.s * {_PQ_SUBDIM} + 1 : (s.s + 1) * {_PQ_SUBDIM}] AS x
      FROM v CROSS JOIN (SELECT unnest(range({_PQ_SUBS})) AS s) s
    ),
    seeds AS (
      SELECT s, vec_id AS code, x AS c FROM sub WHERE vec_id < {_PQ_CODES}
    ),
    assigned AS (
      SELECT sub.vec_id, sub.s, sub.x,
             min_by(seeds.code,
                    CAST(round(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                       i -> (sub.x[i] - seeds.c[i]) * (sub.x[i] - seeds.c[i])))
                       * 10000, 0) AS BIGINT) * 1000 + seeds.code) AS code
      FROM sub JOIN seeds ON sub.s = seeds.s
      GROUP BY sub.vec_id, sub.s, sub.x
    ),
    cb AS (
      SELECT s, code, list(cv ORDER BY pos) AS c FROM (
        SELECT s, code, p.pos, round(avg(x[p.pos]), 6) AS cv
        FROM assigned
        CROSS JOIN (SELECT unnest(range(1, {_PQ_SUBDIM + 1})) AS pos) p
        GROUP BY s, code, p.pos
      ) GROUP BY s, code
    ),
    enc AS (
      SELECT sub.vec_id, sub.s,
             min_by(cb.code,
                    CAST(round(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                       i -> (sub.x[i] - cb.c[i]) * (sub.x[i] - cb.c[i])))
                       * 10000, 0) AS BIGINT) * 1000 + cb.code) AS code
      FROM sub JOIN cb ON sub.s = cb.s
      GROUP BY sub.vec_id, sub.s
    ),
    lut AS (
      SELECT q.vec_id AS q_id, cb.s, cb.code,
             round(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                   i -> (q.x[i] - cb.c[i]) * (q.x[i] - cb.c[i]))), 6) AS sq
      FROM sub q JOIN cb ON q.s = cb.s
      WHERE q.vec_id < {_ADC_NQ}
    ),
    approx AS (
      SELECT l.q_id, enc.vec_id, sum(l.sq) AS adc
      FROM enc JOIN lut l ON l.s = enc.s AND l.code = enc.code
      GROUP BY l.q_id, enc.vec_id
    ),
    ranked AS (
      SELECT q_id, vec_id, adc,
             row_number() OVER (PARTITION BY q_id ORDER BY
               CAST(round(adc * 10000, 0) AS BIGINT) * 100000000 + vec_id)
               AS rank
      FROM approx
    )
    SELECT r.q_id, r.rank, r.vec_id,
           round(r.adc, 4) AS adc_sq_dist,
           round(list_sum(list_transform(range(1, {_JL_IN + 1}),
                 i -> (qv.e[i] - cv.e[i]) * (qv.e[i] - cv.e[i]))), 4)
             AS exact_sq_dist
    FROM ranked r
    JOIN v qv ON qv.vec_id = r.q_id
    JOIN v cv ON cv.vec_id = r.vec_id
    WHERE r.rank <= {_ADC_K}
    """,
)
def pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance computation) top-k search -- the
    serving step that completes the IVF-PQ pipeline after
    pq_codebooks (train) and pq_encode (compress): each query builds
    a tiny {subs}x{codes} lookup table of squared L2 distances from
    its subvectors to every trained centroid, the approximate
    distance to a compressed corpus vector is then just the SUM of
    {subs} table lookups selected by the vector's stored codes (the
    corpus's raw floats are never touched), and the top-{k} per query
    are re-ranked against the exact vectors.  Emitting both the ADC
    and exact distances per hit is what one monitors to size the
    re-rank depth.

    Plan shape: the per-query LUT is NQ x {subs} x {codes} rows --
    broadcast; the scan side is the CODES table ({subs} small ints
    per vector, ~{subs} bytes vs {din} floats = the whole point of
    PQ), joined to the LUT with zero shuffle and summed per
    (query, vector); only (q_id, vec_id, dist) tuples reach the
    per-query top-k (rank key = quantized distance packed with
    vec_id, so the argmin and tiebreak are engine-independent); the
    exact re-rank touches NQ x {k} raw vectors, not the corpus.  At
    100 TB the full-precision embeddings stay cold on disk -- ADC
    reads ~{subs} bytes/vector, which is why PQ serving scales."""
    v = _vectors(spark, sf_dir)
    sub = v.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1))).alias("s"),
        "e",
    ).select(
        "vec_id",
        "s",
        F.slice(F.col("e"), F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("x"),
    )
    seeds = sub.filter(F.col("vec_id") < _PQ_CODES).select(
        F.col("s").alias("c_s"),
        F.col("vec_id").alias("code"),
        F.col("x").alias("c"),
    )

    def _key(dist: Column, code: Column) -> Column:
        return F.round(dist * 10000, 0).cast("bigint") * 1000 + code

    assigned = (
        sub.join(F.broadcast(seeds), sub.s == seeds.c_s)
        .groupBy("vec_id", "s", "x")
        .agg(
            F.min_by(
                "code", _key(_sq_dist(F.col("x"), F.col("c")), F.col("code"))
            ).alias("code")
        )
    )
    cb = (
        assigned.select("s", "code", F.posexplode("x").alias("pos", "val"))
        .withColumn("pos", F.col("pos") + 1)
        .groupBy("s", "code", "pos")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
        .groupBy(F.col("s").alias("c_s"), "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda t: t.cv,
            ).alias("c")
        )
    )
    # Training output is {subs}x{codes} tiny rows; materialize it ONCE
    # (the persist-the-trained-model step) so the two serving
    # consumers (corpus encode + query LUT) don't each re-derive the
    # whole training chain -- this cuts the corpus scans of the plan
    # roughly in half.
    cb = cb.localCheckpoint()
    enc = (
        sub.join(F.broadcast(cb), sub.s == cb.c_s)
        .groupBy("vec_id", "s")
        .agg(
            F.min_by(
                "code", _key(_sq_dist(F.col("x"), F.col("c")), F.col("code"))
            ).alias("code")
        )
    )
    lut = (
        sub.filter(F.col("vec_id") < _ADC_NQ)
        .join(F.broadcast(cb), F.col("s") == cb.c_s)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("s").alias("l_s"),
            F.col("code").alias("l_code"),
            F.round(_sq_dist(F.col("x"), F.col("c")), 6).alias("sq"),
        )
    )
    approx = (
        enc.join(
            F.broadcast(lut),
            (F.col("s") == F.col("l_s")) & (F.col("code") == F.col("l_code")),
        )
        .groupBy("q_id", "vec_id")
        .agg(F.sum("sq").alias("adc"))
    )
    rank_key = (
        F.round(F.col("adc") * 10000, 0).cast("bigint") * 100000000
        + F.col("vec_id")
    )
    ranked = approx.select(
        "q_id",
        "vec_id",
        "adc",
        F.row_number()
        .over(Window.partitionBy("q_id").orderBy(rank_key))
        .alias("rank"),
    ).filter(F.col("rank") <= _ADC_K)
    qv = v.filter(F.col("vec_id") < _ADC_NQ).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    return (
        ranked.join(v, "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "rank",
            "vec_id",
            F.round("adc", 4).alias("adc_sq_dist"),
            F.round(_sq_dist(F.col("qe"), F.col("e")), 4).alias("exact_sq_dist"),
        )
    )


pq_adc_search.__doc__ = pq_adc_search.__doc__.format(
    subs=_PQ_SUBS, codes=_PQ_CODES, din=_JL_IN, k=_ADC_K
)


# ---------------------------------------------------------------------------
# Int8 affine quantization (per-dimension calibration + reconstruction error)
# ---------------------------------------------------------------------------
@query(
    "embedding_int8_quant",
    oracle="""
    WITH flat AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    calib AS (
      SELECT dim, min(v) AS mn, max(v) AS mx,
             (max(v) - min(v)) / 255.0 AS scale
      FROM flat GROUP BY dim
    )
    SELECT f.dim,
           round(c.mn, 6) AS mn,
           round(c.mx, 6) AS mx,
           round(avg(pow(f.v - (c.mn + round((f.v - c.mn) / c.scale)
                                * c.scale), 2)) * 1e6, 4) AS mse_x1e6
    FROM flat f JOIN calib c USING (dim)
    GROUP BY f.dim, c.mn, c.mx
    ORDER BY f.dim
    """,
)
def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension affine int8 quantization of the embedding table:
    calibrate (min, max) per dimension, quantize each value to the
    256-level grid q = round((v - min)/scale), and report the
    round-trip reconstruction MSE per dimension -- the 4x-compression
    step a 100-TB vector corpus runs before ANN serving, plus the
    error audit that decides whether int8 is safe for the recall
    target.

    Two passes by construction: calibration is a tiny grouped
    aggregate (one row per dimension -- broadcast back), and the
    quantize+error pass re-reads the vectors once.  In production the
    calibration pass runs on a small sample (min/max stabilize fast),
    making the first scan sample-sized; the error formula is per-row
    arithmetic on the JVM side either way (posexplode + built-ins, no
    UDF).  Dimensions are 1-based to match SQL array subscripts."""
    v = read_table(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        )
    ).select((F.col("pos") + 1).alias("dim"), "v")
    calib = v.groupBy("dim").agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        ((F.max("v") - F.min("v")) / 255.0).alias("scale"),
    )
    dq = F.col("mn") + F.round((F.col("v") - F.col("mn")) / F.col("scale")) * F.col(
        "scale"
    )
    return (
        v.join(F.broadcast(calib), "dim")
        .groupBy("dim", "mn", "mx")
        .agg(
            F.round(F.avg(F.pow(F.col("v") - dq, 2)) * 1e6, 4).alias("mse_x1e6")
        )
        .select(
            "dim",
            F.round("mn", 6).alias("mn"),
            F.round("mx", 6).alias("mx"),
            "mse_x1e6",
        )
    )


# ---------------------------------------------------------------------------
# Label-centroid similarity via integer-quantized vectors (exact arithmetic)
# ---------------------------------------------------------------------------
@query(
    "centroid_similarity_int8",
    oracle="""
    WITH flat AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    calib AS (
      SELECT dim, min(v) AS mn, (max(v) - min(v)) / 255.0 AS scale
      FROM flat GROUP BY dim
    ),
    codes AS (
      SELECT f.label, f.dim,
             CAST(round((f.v - c.mn) / c.scale) AS BIGINT) AS q
      FROM flat f JOIN calib c USING (dim)
    ),
    sums AS (
      SELECT label, dim, sum(q) AS s FROM codes GROUP BY 1, 2
    ),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             sum(a.s * b.s) AS dot
      FROM sums a JOIN sums b ON a.dim = b.dim AND a.label <= b.label
      GROUP BY 1, 2
    ),
    norms AS (
      SELECT label_a AS label, dot AS self_dot FROM dots
      WHERE label_a = label_b
    )
    SELECT d.label_a, d.label_b,
           round(d.dot / (sqrt(na.self_dot) * sqrt(nb.self_dot)), 6)
             AS centroid_cos
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    WHERE d.label_a < d.label_b
    """,
)
def centroid_similarity_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between label centroids -- the
    drift/collapse diagnostic for a labeled embedding corpus (two
    classes whose centroids converge are merging; a fine-tune that
    pulls all centroids together is collapsing).

    Exact-arithmetic discipline: raw float centroids are averages, so
    their dot products diverge between engines in the last ulps.
    Instead vectors pass through the int8 grid first
    (embedding_int8_quant's calibration), and because
    cos(mean_a, mean_b) = cos(sum_a, sum_b) -- the 1/n factors cancel
    -- the whole computation runs on INTEGER per-label sum vectors:
    dots and norms are exact BIGINT sums (bounded by
    dims * (255 * n)^2), and the single final division happens on
    bit-identical operands in both engines.

    Scale: quantize pass + one groupBy(label, dim) -- the sum table
    is |labels| x dims rows; the pairwise join is on that tiny frame,
    never on vectors."""
    flat = read_table(spark, sf_dir, "embeddings").select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        ),
    ).select("label", (F.col("pos") + 1).alias("dim"), "v")
    calib = flat.groupBy("dim").agg(
        F.min("v").alias("mn"),
        ((F.max("v") - F.min("v")) / 255.0).alias("scale"),
    )
    codes = flat.join(F.broadcast(calib), "dim").select(
        "label",
        "dim",
        F.round((F.col("v") - F.col("mn")) / F.col("scale"))
        .cast("bigint")
        .alias("q"),
    )
    sums = codes.groupBy("label", "dim").agg(F.sum("q").alias("s"))
    b = sums.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("s").alias("sb"),
    )
    dots = (
        sums.join(
            b,
            (F.col("dim") == F.col("dim_b"))
            & (F.col("label") <= F.col("label_b")),
        )
        .groupBy(F.col("label").alias("label_a"), "label_b")
        .agg(F.sum(F.col("s") * F.col("sb")).alias("dot"))
    )
    norms = dots.filter(F.col("label_a") == F.col("label_b")).select(
        F.col("label_a").alias("nl"), F.col("dot").alias("self_dot")
    )
    na = norms.select(
        F.col("nl").alias("label_a"), F.col("self_dot").alias("sd_a")
    )
    nb = norms.select(
        F.col("nl").alias("label_b"), F.col("self_dot").alias("sd_b")
    )
    return (
        dots.filter(F.col("label_a") < F.col("label_b"))
        .join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot") / (F.sqrt("sd_a") * F.sqrt("sd_b")), 6
            ).alias("centroid_cos"),
        )
    )


# ---------------------------------------------------------------------------
# Power-iteration step (dominant principal direction, integer-exact)
# ---------------------------------------------------------------------------
_POW_SCALE = 1000  # fixed-point grid for embedding components


@query(
    "embedding_power_iteration",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, p.pos AS dim,
             CAST(round(embedding[p.pos]::DOUBLE * {_POW_SCALE}) AS BIGINT)
               AS qv
      FROM embeddings, (SELECT unnest(range(1, 65)) AS pos) p
    ),
    s AS (
      SELECT vec_id, CAST(sum(qv) AS BIGINT) AS rs FROM q GROUP BY 1
    )
    SELECT q.dim,
           CAST(sum(q.qv * s.rs) AS BIGINT) AS v,
           count(DISTINCT q.vec_id)         AS n_vectors
    FROM q JOIN s USING (vec_id)
    GROUP BY 1
    """,
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact power-iteration step toward the corpus's dominant
    principal direction: v1 = X^T (X v0) with v0 = the all-ones
    vector, i.e. each vector's component sum becomes its weight and
    the weighted component sums per dimension are the unnormalized
    next iterate.  This is the distributed mat-vec at the heart of
    PCA / PageRank-style spectral methods, expressed without any
    linear-algebra library.

    Exactness: components are integerized to a fixed 1/{scale} grid
    FIRST (round on bit-identical doubles is engine-identical), so
    the whole step is BIGINT arithmetic -- the oracle can state it
    without float-summation-order risk.  Magnitudes: |q| <= ~4e3,
    row weight <= 64*4e3, per-term product <= ~1e9 -- a 100-TB corpus
    of ~1e10 vectors stays inside int64 (~1e19 headroom).

    Scale: one narrow pass computes row sums (aggregate over the
    array, no explode), a posexplode fans out to (dim, term) rows,
    and ONE 64-key grouped aggregation reduces map-side before a
    64-row shuffle -- the classic distributed mat-vec: shuffle volume
    is O(dims x partitions), never O(rows).  Further iterations
    rebroadcast the 64-row iterate (kmeans_2iter's loop pattern).
    (Reference has no numeric surface; its whole data layer is
    src/lib/users.js + src/lib/spacex.js.)"""
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _POW_SCALE).cast("bigint"),
    )
    rows = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        q.alias("q"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "rs"
        ),
    )
    return (
        rows.select("vec_id", "rs", F.posexplode("q").alias("idx0", "qv"))
        .groupBy((F.col("idx0") + 1).alias("dim"))
        .agg(
            F.sum(F.col("qv") * F.col("rs")).cast("bigint").alias("v"),
            F.countDistinct("vec_id").alias("n_vectors"),
        )
    )


embedding_power_iteration.__doc__ = embedding_power_iteration.__doc__.replace(
    "{scale}", str(_POW_SCALE)
)


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (hybrid retrieval over two rankers)
# ---------------------------------------------------------------------------
_RRF_K = 60  # standard RRF damping constant
_RRF_TOPK = 50  # per-ranker candidate cutoff
_RRF_OUT = 20  # fused result size


@query(
    "similarity_rrf_fusion",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x * {_POW_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    p AS (SELECT vec_id AS probe_id, q AS pq FROM v WHERE vec_id < 2),
    scored AS (
      SELECT p.probe_id, v.vec_id,
             list_sum(list_transform(range(1, 65),
                                     i -> v.q[i] * p.pq[i])) AS dot_int
      FROM v JOIN p ON v.vec_id <> p.probe_id
    ),
    ranked AS (
      SELECT probe_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY dot_int DESC, vec_id) AS rnk
      FROM scored
    ),
    topk AS (SELECT * FROM ranked WHERE rnk <= {_RRF_TOPK}),
    fused AS (
      SELECT vec_id,
             CAST(coalesce(max(CASE WHEN probe_id = 0 THEN rnk END), 0)
                  AS BIGINT) AS rank_a,
             CAST(coalesce(max(CASE WHEN probe_id = 1 THEN rnk END), 0)
                  AS BIGINT) AS rank_b,
             sum(CAST(1 AS DOUBLE) / ({_RRF_K} + rnk)) AS rrf
      FROM topk GROUP BY 1
    )
    SELECT vec_id, rank_a, rank_b, round(rrf, 6) AS rrf_score
    FROM fused ORDER BY rrf DESC, vec_id LIMIT {_RRF_OUT}
    """,
)
def similarity_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval result merging by reciprocal-rank fusion: two
    rankers (here: exact inner product against two probe vectors,
    integer-exact on the 1/{scale} fixed-point grid) each nominate
    their top-{topk}; every candidate scores sum(1 / ({k} + rank))
    over the lists that contain it (rank 0 in the output marks
    "absent from that list"), and the fused top-{out} is returned.
    RRF is THE standard way to merge lexical (BM25) and dense (ANN)
    retrieval without score calibration -- ranks are comparable when
    raw scores are not.

    Exactness: ranks derive from BIGINT dot products with vec_id
    tie-break, so both engines rank identically; the only float is
    1/(k+rank) on identical integer operands (IEEE addition of the
    same two terms is order-free), rounded for display after the
    ordered LIMIT.

    Scale: the per-ranker cutoff is the point -- rank <= {topk} is a
    WindowGroupLimit plan (per-partition pre-truncation before the
    shuffle, same pin as sketch_kmv_by_group), the fusion aggregate
    sees only ranker-count x {topk} rows, and the final LIMIT is a
    TakeOrdered.  A 100-TB corpus never materializes a global sort;
    each added ranker costs one scored pass + one bounded window.
    (Reference has no retrieval surface; its whole data layer is
    src/lib/users.js + src/lib/spacex.js.)"""
    v = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * _POW_SCALE).cast("bigint"),
        ).alias("q"),
    )
    p = v.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), F.col("q").alias("pq")
    )
    scored = v.join(
        F.broadcast(p), F.col("vec_id") != F.col("probe_id")
    ).select(
        "probe_id",
        "vec_id",
        F.aggregate(
            F.zip_with("q", "pq", lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("dot_int"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("dot_int").desc(), "vec_id"
    )
    topk = scored.select(
        "probe_id", "vec_id", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= _RRF_TOPK)
    fused = topk.groupBy("vec_id").agg(
        F.coalesce(
            F.max(F.when(F.col("probe_id") == 0, F.col("rnk"))), F.lit(0)
        )
        .cast("bigint")
        .alias("rank_a"),
        F.coalesce(
            F.max(F.when(F.col("probe_id") == 1, F.col("rnk"))), F.lit(0)
        )
        .cast("bigint")
        .alias("rank_b"),
        F.sum(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rnk"))).alias("rrf"),
    )
    return (
        fused.orderBy(F.col("rrf").desc(), "vec_id")
        .limit(_RRF_OUT)
        .select(
            "vec_id",
            "rank_a",
            "rank_b",
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


similarity_rrf_fusion.__doc__ = (
    similarity_rrf_fusion.__doc__.replace("{scale}", str(_POW_SCALE))
    .replace("{topk}", str(_RRF_TOPK))
    .replace("{k}", str(_RRF_K))
    .replace("{out}", str(_RRF_OUT))
)


# ---------------------------------------------------------------------------
# Greedy k-center coreset (farthest-point traversal, integer-exact)
# ---------------------------------------------------------------------------
_KC_DIST = (
    "CAST(list_sum(list_transform(range(1, 65), "
    "i -> ({a}.q[i] - {b}.q[i]) * ({a}.q[i] - {b}.q[i]))) AS BIGINT)"
)


@query(
    "coreset_kcenter",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x * {_POW_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    c1 AS (SELECT vec_id, q FROM v WHERE vec_id = 0),
    m1 AS (
      SELECT v.vec_id, {_KC_DIST.format(a="v", b="c1")} AS d2
      FROM v, c1 WHERE v.vec_id <> c1.vec_id
    ),
    c2 AS (
      SELECT m1.vec_id, v.q, m1.d2 FROM m1 JOIN v USING (vec_id)
      ORDER BY m1.d2 DESC, m1.vec_id LIMIT 1
    ),
    m2 AS (
      SELECT m1.vec_id,
             least(m1.d2, {_KC_DIST.format(a="v", b="c2")}) AS d2
      FROM m1 JOIN v USING (vec_id), c2 WHERE m1.vec_id <> c2.vec_id
    ),
    c3 AS (
      SELECT m2.vec_id, v.q, m2.d2 FROM m2 JOIN v USING (vec_id)
      ORDER BY m2.d2 DESC, m2.vec_id LIMIT 1
    ),
    m3 AS (
      SELECT m2.vec_id,
             least(m2.d2, {_KC_DIST.format(a="v", b="c3")}) AS d2
      FROM m2 JOIN v USING (vec_id), c3 WHERE m2.vec_id <> c3.vec_id
    ),
    c4 AS (SELECT vec_id, d2 FROM m3 ORDER BY d2 DESC, vec_id LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS step, CAST(0 AS BIGINT) AS vec_id,
           CAST(0 AS BIGINT) AS d2_at_selection
    UNION ALL SELECT 2, vec_id, d2 FROM c2
    UNION ALL SELECT 3, vec_id, d2 FROM c3
    UNION ALL SELECT 4, vec_id, d2 FROM c4
    """,
)
def coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center selection (farthest-point traversal): seed with
    vector 0, then repeatedly add the vector FARTHEST from the
    selected set (max over candidates of min squared L2 to any
    center, smallest vec_id on ties) until k=4 centers are chosen.
    This is the classic 2-approximation coreset picker -- the
    "maximally diverse subset" primitive behind diverse training-data
    selection, seed picking for k-means++, and dataset visualization
    anchors.  Output is the selection trace: each chosen vec_id with
    its distance-to-set at selection time (the covering radius shrinks
    monotonically down the trace).

    Exactness: squared L2 on the 1/{_POW_SCALE} fixed-point grid is
    pure BIGINT, so the argmax (struct-max with vec_id tie-break) is
    engine-identical; the oracle chains one CTE pair per round.

    Scale: each round is ONE narrow pass over the candidates -- the
    running min-distance column is carried forward (localCheckpoint
    truncates lineage, kmeans_converged's loop pattern) and updated
    against just the newly added center (broadcast as a 64-int
    literal), never recomputed against all k; the argmax is a
    map-side-combinable max_by aggregate, no sort, no window.  Driver
    traffic is one (id, d2) pair plus one 64-int vector per round.
    (Reference has no selection surface; its whole data layer is
    src/lib/users.js + src/lib/spacex.js.)"""
    v = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * _POW_SCALE).cast("bigint"),
        ).alias("q"),
    )

    def dist_to(center_vals):
        lit = F.array(*[F.lit(int(c)) for c in center_vals])
        return F.aggregate(
            F.zip_with("q", lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    seed_q = v.filter(F.col("vec_id") == 0).collect()[0]["q"]
    cand = (
        v.filter(F.col("vec_id") != 0)
        .select("vec_id", "q", dist_to(seed_q).alias("d2"))
        .localCheckpoint()
    )
    trace = [(1, 0, 0)]
    for step in (2, 3, 4):
        sel = cand.agg(
            F.max_by(
                F.struct("vec_id", "d2"),
                F.struct(F.col("d2"), (-F.col("vec_id")).alias("nv")),
            ).alias("s")
        ).collect()[0]["s"]
        trace.append((step, sel["vec_id"], sel["d2"]))
        if step < 4:
            sel_q = cand.filter(F.col("vec_id") == sel["vec_id"]).collect()[
                0
            ]["q"]
            cand = (
                cand.filter(F.col("vec_id") != sel["vec_id"])
                .select(
                    "vec_id",
                    "q",
                    F.least(F.col("d2"), dist_to(sel_q)).alias("d2"),
                )
                .localCheckpoint()
            )
    return local_frame(
        spark, trace, "step bigint, vec_id bigint, d2_at_selection bigint"
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive training pairs)
# ---------------------------------------------------------------------------
_HN_ANCHORS = 20
_HN_PER_ANCHOR = 3


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x * {_POW_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    a AS (
      SELECT vec_id AS anchor_id, label AS anchor_label, q AS aq
      FROM v WHERE vec_id < {_HN_ANCHORS}
    ),
    scored AS (
      SELECT a.anchor_id, a.anchor_label,
             v.vec_id AS negative_id, v.label AS negative_label,
             CAST(list_sum(list_transform(range(1, 65),
                                          i -> v.q[i] * a.aq[i]))
                  AS BIGINT) AS dot_int
      FROM a JOIN v ON v.label <> a.anchor_label
    )
    SELECT anchor_id, anchor_label, negative_id, negative_label, dot_int
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                   ORDER BY dot_int DESC, negative_id) AS rnk
      FROM scored
    ) WHERE rnk <= {_HN_PER_ANCHOR}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (the first {anchors} vectors), the {per} most-similar vectors
    carrying a DIFFERENT label -- the near-misses that teach an
    embedding model its decision boundary, where random negatives are
    trivially easy.  Emits (anchor, negative, similarity) triples, the
    pair table a contrastive data loader consumes.

    Exactness: inner products on the fixed-point grid are BIGINT with
    negative_id tie-break, so both engines pick identical negatives.

    Scale: anchors broadcast (the mined set is batch-sized, not
    corpus-sized); the label-mismatch predicate rides the broadcast
    join; per-anchor top-{per} is a WindowGroupLimit (per-partition
    pre-truncation, no global sort).  Mining against a 100-TB corpus
    is one scan per anchor batch; harder curricula swap the broadcast
    for the IVF cell join (similarity_ivf) to score only candidate
    cells.  (Reference has no training surface; its whole data layer is
    src/lib/users.js + src/lib/spacex.js.)"""
    v = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * _POW_SCALE).cast("bigint"),
        ).alias("q"),
    )
    a = v.filter(F.col("vec_id") < _HN_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("q").alias("aq"),
    )
    scored = v.join(
        F.broadcast(a), F.col("label") != F.col("anchor_label")
    ).select(
        "anchor_id",
        "anchor_label",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        F.aggregate(
            F.zip_with("q", "aq", lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("dot_int"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("dot_int").desc(), "negative_id"
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= _HN_PER_ANCHOR)
        .drop("rnk")
    )


hard_negative_mining.__doc__ = hard_negative_mining.__doc__.replace(
    "{anchors}", str(_HN_ANCHORS)
).replace("{per}", str(_HN_PER_ANCHOR))


# ---------------------------------------------------------------------------
# Label-noise detection by k-NN label agreement
# ---------------------------------------------------------------------------
_LN_ANCHORS = 40
_LN_K = 5


@query(
    "label_noise_knn",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x * {_POW_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    a AS (
      SELECT vec_id AS anchor_id, label AS anchor_label, q AS aq
      FROM v WHERE vec_id < {_LN_ANCHORS}
    ),
    scored AS (
      SELECT a.anchor_id, a.anchor_label, v.vec_id AS nb, v.label AS nb_label,
             CAST(list_sum(list_transform(range(1, 65),
                                          i -> v.q[i] * a.aq[i]))
                  AS BIGINT) AS dot_int
      FROM a JOIN v ON v.vec_id <> a.anchor_id
    ),
    knn AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY dot_int DESC, nb) AS rnk
        FROM scored
      ) WHERE rnk <= {_LN_K}
    )
    SELECT anchor_id, anchor_label,
           CAST(sum(CASE WHEN nb_label = anchor_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           (sum(CASE WHEN nb_label = anchor_label THEN 1 ELSE 0 END) <= 1)
             AS suspect
    FROM knn GROUP BY 1, 2
    """,
)
def label_noise_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screening by neighborhood agreement: for each
    audited vector, count how many of its {k} nearest neighbors (by
    exact inner product, fixed-point BIGINT) carry the SAME label; a
    vector whose neighborhood disagrees (<= 1 of {k} agree) is a
    relabel/review candidate.  This is the confident-learning-style
    pass a labeled-data pipeline runs before training -- mislabeled
    examples sit in the wrong neighborhood and surface here without
    training a model.

    Scale: identical shape to hard_negative_mining -- audited batch
    broadcast, one corpus scan, WindowGroupLimit per-anchor top-{k},
    then a tiny per-anchor aggregate.  Auditing a full 100-TB corpus
    batches the anchors and amortizes scans, or swaps the broadcast
    for IVF cell joins (similarity_ivf).  (Reference has no label
    surface; its whole data layer is src/lib/users.js +
    src/lib/spacex.js.)"""
    v = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * _POW_SCALE).cast("bigint"),
        ).alias("q"),
    )
    a = v.filter(F.col("vec_id") < _LN_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("q").alias("aq"),
    )
    scored = v.join(
        F.broadcast(a), F.col("vec_id") != F.col("anchor_id")
    ).select(
        "anchor_id",
        "anchor_label",
        F.col("label").alias("nb_label"),
        F.col("vec_id").alias("nb"),
        F.aggregate(
            F.zip_with("q", "aq", lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("dot_int"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("dot_int").desc(), "nb"
    )
    agree = F.sum(
        F.when(F.col("nb_label") == F.col("anchor_label"), 1).otherwise(0)
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= _LN_K)
        .groupBy("anchor_id", "anchor_label")
        .agg(
            agree.cast("bigint").alias("n_agree"),
            (agree <= 1).alias("suspect"),
        )
    )


label_noise_knn.__doc__ = label_noise_knn.__doc__.replace(
    "{k}", str(_LN_K)
)


# ---------------------------------------------------------------------------
# Multi-probe sign-bucket LSH (recall without extra tables)
# ---------------------------------------------------------------------------
_MP_PROBES_SQL = ", ".join(
    ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(BUCKET_BITS)]
)


@query(
    "similarity_lsh_multiprobe",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    b AS (SELECT vec_id, e, {_BUCKET_SQL} AS bucket FROM v),
    q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM b
          WHERE vec_id < 20),
    probes AS (
      SELECT query_id, qe, unnest([{_MP_PROBES_SQL}]) AS pbucket FROM q
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             round({_COS_SQL.format(a="p.qe", b="c.e")}, 4) AS sim
      FROM probes p JOIN b c
        ON c.bucket = p.pbucket AND c.vec_id <> p.query_id
    )
    SELECT * FROM (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def similarity_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: in addition to the query's own sign bucket,
    probe the {b} buckets at Hamming distance 1 (each sign bit
    flipped once) -- the standard recall lever that avoids building
    more hash tables.  A near neighbor that lands across one
    hyperplane from the query is found by the flipped probe, so
    recall approaches the {b1}-probe union of {b1} independent
    tables at the INDEX COST OF ONE: the corpus is still bucketed
    exactly once, and each vector still lives in exactly one bucket
    (probes hit disjoint candidate sets -- no dedup step).

    Scale shape: the probe list explodes only the tiny query side
    ({b1} rows per query, broadcast); candidate generation stays a
    bucket equi-join touching ~{b1}N/2^{b} corpus rows per query,
    and the corpus never shuffles.  Compare similarity_lsh_bucket
    (single probe) and similarity_recall (the measured
    recall-vs-exact harness)."""
    v = _vectors(spark, sf_dir)
    b = v.withColumn("bucket", _bucket())
    q = b.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("s").alias("qs"),
        F.col("bucket").alias("qbucket"),
    )
    probes = q.select(
        "query_id",
        "qe",
        "qs",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(BUCKET_BITS)
                ],
            )
        ).alias("pbucket"),
    )
    scored = (
        b.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("pbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _query_sim())
    )
    return _top(scored, 5)


similarity_lsh_multiprobe.__doc__ = similarity_lsh_multiprobe.__doc__.format(
    b=BUCKET_BITS, b1=BUCKET_BITS + 1
)


# ---------------------------------------------------------------------------
# Deflated second principal direction (exact-integer orthogonalization)
# ---------------------------------------------------------------------------
_PCA2_GRID = 1000  # rescale grid for the iterate vectors

# Shared rescale formula (both engines): integer iterate -> small
# integer grid via one double division stated once as SQL.
_PCA2_RESCALE = (
    "CAST(round(CAST({v} AS DOUBLE) / CAST({mx} AS DOUBLE)"
    f" * {_PCA2_GRID}.0) AS BIGINT)"
)


@query(
    "embedding_pca2_deflation",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, p.pos AS dim,
             CAST(round(embedding[p.pos]::DOUBLE * {_POW_SCALE}) AS BIGINT)
               AS qv
      FROM embeddings, (SELECT unnest(range(1, 65)) AS pos) p
    ),
    r AS (
      SELECT vec_id,
             CAST(sum(qv) AS BIGINT) AS rs,
             CAST(sum(qv * (CASE WHEN dim % 2 = 1 THEN 1 ELSE -1 END))
                  AS BIGINT) AS rw
      FROM q GROUP BY 1
    ),
    it AS (
      SELECT q.dim,
             CAST(sum(q.qv * r.rs) AS BIGINT) AS v1,
             CAST(sum(q.qv * r.rw) AS BIGINT) AS u
      FROM q JOIN r USING (vec_id) GROUP BY 1
    ),
    mx AS (
      SELECT CAST(max(abs(v1)) AS BIGINT) AS m1,
             CAST(max(abs(u))  AS BIGINT) AS mu
      FROM it
    ),
    sc AS (
      SELECT dim,
             {_PCA2_RESCALE.format(v='v1', mx='m1')} AS v1s,
             {_PCA2_RESCALE.format(v='u', mx='mu')} AS us
      FROM it CROSS JOIN mx
    ),
    dots AS (
      SELECT CAST(sum(v1s * v1s) AS BIGINT) AS d11,
             CAST(sum(v1s * us)  AS BIGINT) AS d1u
      FROM sc
    ),
    pc2 AS (
      SELECT dim, v1s, d11 * us - d1u * v1s AS v2
      FROM sc CROSS JOIN dots
    )
    SELECT dim, v1s AS v1_scaled, CAST(v2 AS BIGINT) AS pc2_raw,
           (SELECT CAST(sum(v1s * v2) AS BIGINT) FROM pc2) AS orth_dot
    FROM pc2
    """,
)
def embedding_pca2_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND principal direction by deflation, exact to the last
    bit: one power step from the all-ones start gives the dominant
    iterate v1 = X^T(X*1) (embedding_power_iteration); a second step
    from an independent alternating-sign start gives u = X^T(X*w);
    both rescale to a small integer grid, and u is orthogonalized
    against v1 WITHOUT division by clearing denominators --
    pc2 = (v1.v1) * u - (v1.u) * v1, plain BIGINT arithmetic whose
    orthogonality is an algebraic identity: v1.pc2 = 0 EXACTLY, and
    the query outputs that dot as a value-checked column (any
    arithmetic slip anywhere upstream makes it nonzero and fails the
    oracle, not just a tolerance).

    Exactness: fixed-point components (1/{ps} grid) keep both power
    steps in BIGINT; the only division is the grid rescale, stated
    once as shared SQL over exact integers (bit-identical doubles).
    After rescaling to +-{grid}, every product fits comfortably in
    int64 (|dots| <= 64e6, |pc2 terms| <= 6.4e10) at ANY corpus size
    -- the rescale is what makes deflation overflow-free at 100 TB.

    Scale: ONE posexplode pass computes both iterates in the same
    64-key aggregation (map-side combine, 64-row shuffle); everything
    after is algebra on 64-row broadcast frames.  Further components
    repeat the deflation against the accumulated basis -- one extra
    64-row pass each."""
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _POW_SCALE).cast("bigint"),
    )
    sign = lambda i: F.when((i + 1) % 2 == 1, F.lit(1)).otherwise(F.lit(-1))  # noqa: E731
    rows = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        q.alias("q"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("rs"),
        F.aggregate(
            F.transform(q, lambda x, i: x * sign(i)),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("rw"),
    )
    it = (
        rows.select("rs", "rw", F.posexplode("q").alias("idx0", "qv"))
        .groupBy((F.col("idx0") + 1).alias("dim"))
        .agg(
            F.sum(F.col("qv") * F.col("rs")).cast("bigint").alias("v1"),
            F.sum(F.col("qv") * F.col("rw")).cast("bigint").alias("u"),
        )
    )
    mx = it.agg(
        F.max(F.abs(F.col("v1"))).cast("bigint").alias("m1"),
        F.max(F.abs(F.col("u"))).cast("bigint").alias("mu"),
    )
    sc = it.crossJoin(F.broadcast(mx)).select(
        "dim",
        F.expr(_PCA2_RESCALE.format(v="v1", mx="m1")).alias("v1s"),
        F.expr(_PCA2_RESCALE.format(v="u", mx="mu")).alias("us"),
    )
    dots = sc.agg(
        F.sum(F.col("v1s") * F.col("v1s")).cast("bigint").alias("d11"),
        F.sum(F.col("v1s") * F.col("us")).cast("bigint").alias("d1u"),
    )
    pc2 = sc.crossJoin(F.broadcast(dots)).select(
        "dim",
        "v1s",
        (F.col("d11") * F.col("us") - F.col("d1u") * F.col("v1s")).alias("v2"),
    )
    orth = pc2.agg(
        F.sum(F.col("v1s") * F.col("v2")).cast("bigint").alias("orth_dot")
    )
    return pc2.crossJoin(F.broadcast(orth)).select(
        "dim",
        F.col("v1s").alias("v1_scaled"),
        F.col("v2").cast("bigint").alias("pc2_raw"),
        "orth_dot",
    )


embedding_pca2_deflation.__doc__ = embedding_pca2_deflation.__doc__.replace(
    "{ps}", str(_POW_SCALE)
).replace("{grid}", str(_PCA2_GRID))


# ---------------------------------------------------------------------------
# IVF recall-vs-probes sweep: the index-tuning curve in one pass
# ---------------------------------------------------------------------------
_SWEEP_PROBES = (1, 2, 4)
_SWEEP_K = 10


@query(
    "ann_recall_vs_probes",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {N_CENTROIDS}),
    cscore AS (
      SELECT v.vec_id, cent.cid, round({_IVF_COS}, 4) AS csim, v.e
      FROM v CROSS JOIN cent
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY csim DESC, cid) AS rnk
      FROM cscore
    ),
    assign AS (SELECT vec_id, cid AS cluster, e FROM ranked WHERE rnk = 1),
    probes AS (
      SELECT vec_id AS query_id, cid AS cluster, rnk AS probe_rank, e AS qe
      FROM ranked WHERE vec_id < {N_QUERIES}
                    AND rnk <= {max(_SWEEP_PROBES)}
    ),
    cand AS (
      SELECT p.query_id, p.probe_rank, a.vec_id AS neighbor_id,
             round({_COS_SQL.format(a="p.qe", b="a.e")}, 4) AS sim
      FROM probes p JOIN assign a
        ON a.cluster = p.cluster AND a.vec_id <> p.query_id
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_COS_SQL.format(a="q.e", b="v.e")}, 4)
                            DESC, v.vec_id) AS rank
        FROM (SELECT * FROM v WHERE vec_id < {N_QUERIES}) q
        JOIN v ON v.vec_id <> q.vec_id
      ) WHERE rank <= {_SWEEP_K}
    ),
    swept AS (
      SELECT s.p, c.query_id, c.neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY s.p, c.query_id
                                ORDER BY c.sim DESC, c.neighbor_id) AS rank
      FROM cand c
      JOIN (SELECT unnest([{", ".join(str(p) for p in _SWEEP_PROBES)}]) AS p)
           s ON c.probe_rank <= s.p
    ),
    hits AS (
      SELECT s.p, s.query_id,
             sum(CASE WHEN e.neighbor_id IS NOT NULL
                      THEN 1 ELSE 0 END) AS n_hit
      FROM swept s
      LEFT JOIN exact e ON e.query_id = s.query_id
                       AND e.neighbor_id = s.neighbor_id
      WHERE s.rank <= {_SWEEP_K}
      GROUP BY 1, 2
    )
    SELECT p AS n_probes,
           round(sum(n_hit) / ({N_QUERIES}.0 * {_SWEEP_K}), 4)
             AS recall_at_{_SWEEP_K}
    FROM hits GROUP BY 1
    """,
)
def ann_recall_vs_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index-tuning curve: recall@{k} of the coarse-quantizer
    search at nprobe = {probes}, all measured in ONE pass -- the sweep
    every ANN deployment runs to pick its latency/recall operating
    point (more probed cells = more candidates = higher recall).
    Exact top-{k} (the similarity_topk shape) is the yardstick; the
    candidate set is generated ONCE at the largest probe count with
    each candidate tagged by the rank of its cell in the query's
    centroid ranking, so the smaller probe budgets are FILTERS over
    the same candidates, not re-searches.

    Scale shape: centroid ranking is the similarity_ivf broadcast
    argmax (narrow map, zero shuffle); candidates come from one
    equi-join on cluster id probing <= {maxp}/{nc} of the corpus per
    query; the sweep fan-out multiplies CANDIDATES (a few hundred
    rows) by |probe budgets| -- never the corpus; and the exact arm
    brute-forces only the broadcast query sample.  Windows partition
    by (budget, query): bounded frames."""
    v = _vectors(spark, sf_dir)
    cents = v.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    va = _rank_cells(v, cents, max(_SWEEP_PROBES))
    assign = va.select("vec_id", "e", "s", "cluster")
    probes = va.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("s").alias("qs"),
        F.posexplode_outer("cells").alias("pos", "qcluster"),
    )
    cand = assign.join(
        F.broadcast(probes),
        (F.col("cluster") == F.col("qcluster"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        (F.col("pos") + 1).alias("probe_rank"),
        F.col("vec_id").alias("neighbor_id"),
        _query_sim(),
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("s").alias("qs"),
    )
    exact = _top(
        v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id", F.col("vec_id").alias("neighbor_id"), _query_sim()
        ),
        _SWEEP_K,
    ).select("query_id", F.col("neighbor_id").alias("e_neighbor"))
    budgets = F.explode(
        F.array(*[F.lit(p) for p in _SWEEP_PROBES])
    ).alias("p")
    wp = Window.partitionBy("p", "query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    swept = (
        cand.select("*", budgets)
        .filter(F.col("probe_rank") <= F.col("p"))
        .select("*", F.row_number().over(wp).alias("rank"))
        .filter(F.col("rank") <= _SWEEP_K)
    )
    hits = (
        swept.join(
            # <= N_QUERIES x k rows: always broadcast the exact arm
            F.broadcast(exact),
            (swept["query_id"] == exact["query_id"])
            & (swept["neighbor_id"] == exact["e_neighbor"]),
            "left",
        )
        .groupBy("p", swept["query_id"])
        .agg(
            F.sum(
                F.when(F.col("e_neighbor").isNotNull(), 1).otherwise(0)
            ).alias("n_hit")
        )
    )
    return hits.groupBy(F.col("p").alias("n_probes")).agg(
        F.round(
            F.sum("n_hit") / F.lit(float(N_QUERIES * _SWEEP_K)), 4
        ).alias(f"recall_at_{_SWEEP_K}")
    )


ann_recall_vs_probes.__doc__ = ann_recall_vs_probes.__doc__.format(
    k=_SWEEP_K,
    probes=_SWEEP_PROBES,
    maxp=max(_SWEEP_PROBES),
    nc=N_CENTROIDS,
)
