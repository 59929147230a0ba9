"""Iterative graph operator: connected-component clustering of the
MinHash near-dup candidate pairs -- the step that turns pairwise
"A looks like B" evidence into dedup groups with one canonical doc
per cluster (standard in training-data dedup pipelines).

Spark side: driver-coordinated min-label propagation -- each round is
one join + one aggregate, state is a (node, label) DataFrame, lineage
truncated per round with localCheckpoint.  Rounds needed = graph
diameter (tiny for near-dup clusters); each round is a pair of
shuffles keyed by node, so the pattern holds at any corpus size
(this is exactly large-scale connected components a la
GraphX/Pregel, expressed in plain DataFrames).

Oracle: DuckDB recursive CTE computing min reachable label over the
same edges -- the rare case where an "iterative, non-SQL" operator
still gets a full value-checked oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .dedup import _MINHASH_PAIRS_SQL, minhash_pairs
from .registry import query

MAX_ITERS = 20


def connected_components(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Min-label propagation over an undirected edge list.
    Returns (node, cluster_id) where cluster_id = min node id in the
    component.  Deterministic on any partitioning.  A label moves one
    hop per round, so a component whose diameter needs more than
    ``MAX_ITERS`` rounds raises instead of returning unconverged
    labels."""
    both = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    both = both.distinct().localCheckpoint()
    labels = (
        both.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    # The convergence probe is FUSED into each round twice over: the
    # node's previous label rides through the min-aggregation as a
    # second column (max over exactly-one-non-null), and the
    # changed-count is attached to the round's plan as an Observation
    # metric, so the eager localCheckpoint that materializes the round
    # ALSO delivers the count -- one job per round, no separate
    # count action, and convergence is detected the round it happens.
    label_type = dict(labels.dtypes)["label"]
    for _ in range(MAX_ITERS):
        neighbor_labels = both.join(
            labels, both.b == labels.node, "inner"
        ).select(
            F.col("a").alias("node"),
            "label",
            F.lit(None).cast(label_type).alias("old"),
        )
        probe = Observation()
        new_labels = (
            labels.select("node", "label", F.col("label").alias("old"))
            .unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
            .observe(
                probe,
                F.count(
                    F.when(F.col("label") != F.col("old"), 1)
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        labels = new_labels.drop("old")
        if probe.get["changed"] == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after {MAX_ITERS}"
            " rounds (a component's diameter exceeds the round cap)"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(v, u) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a
    )
    SELECT v              AS doc_id,
           least(v, min(u)) AS cluster_id,
           CAST(v = least(v, min(u)) AS BOOLEAN) AS is_canonical
    FROM reach GROUP BY v
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from the LSH candidate pairs: every doc in a
    candidate pair mapped to its component's minimum doc_id (the
    canonical survivor).  Iterative min-label propagation; converges
    in diameter rounds."""
    pairs = minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
    )


@query(
    "dedup_apply",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(v, u) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a
    ),
    drop_docs AS (
      SELECT v AS doc_id FROM reach GROUP BY v
      HAVING v <> least(v, min(u))
    )
    SELECT d.lang,
           count(*)                             AS n_docs,
           count(dd.doc_id)                     AS n_dropped,
           count(*) - count(dd.doc_id)          AS n_kept
    FROM documents d LEFT JOIN drop_docs dd ON d.doc_id = dd.doc_id
    GROUP BY d.lang
    """,
)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline applied end-to-end: LSH candidates ->
    connected components -> drop every non-canonical cluster member ->
    per-language keep/drop accounting.  The drop set (non-canonical
    docs) is tiny relative to the corpus, so the final step is a
    broadcast anti-join shape -- the corpus scans once and never
    shuffles.  This is the operator a training-data pipeline actually
    runs; dedup_clusters/dedup_minhash_lsh expose its intermediate
    stages."""
    from ..io import read_table

    comp = dedup_clusters(spark, sf_dir)
    drop = comp.filter(~F.col("is_canonical")).select("doc_id")
    d = read_table(spark, sf_dir, "documents")
    flagged = d.join(
        F.broadcast(drop.withColumn("dropped", F.lit(1))), "doc_id", "left"
    )
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count("dropped").alias("n_dropped"),
        (F.count("*") - F.count("dropped")).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# PageRank (2 unrolled iterations) over the candidate graph
# ---------------------------------------------------------------------------
_PR_DAMP = 0.85


@query(
    "pagerank_candidates",
    oracle=f"""
    WITH pairs AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    deg AS (SELECT a, count(*) AS d FROM edges GROUP BY a),
    n AS (SELECT count(*) AS c FROM deg),
    pr0 AS (SELECT deg.a, deg.d, 1.0 / n.c AS pr FROM deg CROSS JOIN n),
    agg1 AS (
      SELECT e.b AS a, sum(p.pr / p.d) AS inflow
      FROM edges e JOIN pr0 p ON e.a = p.a GROUP BY e.b
    ),
    pr1 AS (
      SELECT deg.a, deg.d,
             {1 - _PR_DAMP} / n.c + {_PR_DAMP} * coalesce(agg1.inflow, 0) AS pr
      FROM deg CROSS JOIN n LEFT JOIN agg1 ON deg.a = agg1.a
    ),
    agg2 AS (
      SELECT e.b AS a, sum(p.pr / p.d) AS inflow
      FROM edges e JOIN pr1 p ON e.a = p.a GROUP BY e.b
    ),
    pr2 AS (
      SELECT deg.a,
             {1 - _PR_DAMP} / n.c + {_PR_DAMP} * coalesce(agg2.inflow, 0) AS pr
      FROM deg CROSS JOIN n LEFT JOIN agg2 ON deg.a = agg2.a
    )
    SELECT a AS doc_id, round(pr, 8) AS pagerank FROM pr2
    """,
)
def pagerank_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 2 deterministic iterations) over the
    LSH candidate graph: ranks the "hubs" of near-duplicate evidence,
    the centrality signal for picking cluster canonicals by
    connectivity rather than min-id.  Each iteration is one edge-keyed
    equi-join plus one aggregation -- the Pregel round as DataFrames,
    same loop discipline as connected_components; the node count is a
    1-row broadcast.  The oracle unrolls both iterations in SQL, so
    the iterative operator is still value-checked end-to-end.  On a
    symmetric graph every node has indegree >= 1, but the LEFT join +
    coalesce keeps the form correct for directed deployments."""
    pairs = minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        .distinct()
        .localCheckpoint()
    )
    deg = edges.groupBy("a").agg(F.count("*").alias("d"))
    n = deg.agg(F.count("*").alias("c"))
    state = deg.crossJoin(F.broadcast(n)).select(
        "a", "d", "c", (F.lit(1.0) / F.col("c")).alias("pr")
    )
    for _ in range(2):
        inflow = (
            edges.join(state, edges.a == state.a)
            .groupBy(edges["b"].alias("node"))
            .agg(F.sum(F.col("pr") / F.col("d")).alias("inflow"))
        )
        state = (
            deg.crossJoin(F.broadcast(n))
            .join(inflow, deg.a == inflow.node, "left")
            .select(
                "a",
                "d",
                "c",
                (
                    F.lit(1 - _PR_DAMP) / F.col("c")
                    + F.lit(_PR_DAMP) * F.coalesce("inflow", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return state.select(
        F.col("a").alias("doc_id"), F.round("pr", 8).alias("pagerank")
    )


# ---------------------------------------------------------------------------
# Retention-policy dedup: keep the LONGEST doc per near-dup cluster
# ---------------------------------------------------------------------------
@query(
    "dedup_keep_longest",
    oracle=rf"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(v, u) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a
    ),
    clusters AS (
      SELECT v AS doc_id, least(v, min(u)) AS cluster_id
      FROM reach GROUP BY v
    ),
    tok AS (
      SELECT doc_id, lang,
             len(string_split_regex(lower(text), '\s+')) AS n_tokens
      FROM documents
    ),
    member AS (
      SELECT t.doc_id, t.lang, t.n_tokens, c.cluster_id
      FROM tok t JOIN clusters c ON t.doc_id = c.doc_id
    ),
    ranked AS (
      SELECT doc_id, lang, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_tokens DESC, doc_id) AS rn
      FROM member
    ),
    flags AS (
      SELECT lang, n_tokens, rn > 1 AS dropped FROM ranked
      UNION ALL
      SELECT t.lang, t.n_tokens, FALSE
      FROM tok t LEFT JOIN clusters c ON t.doc_id = c.doc_id
      WHERE c.doc_id IS NULL
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(sum(CASE WHEN NOT dropped THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN NOT dropped THEN n_tokens ELSE 0 END) AS BIGINT)
               AS tokens_kept,
           CAST(sum(CASE WHEN dropped THEN n_tokens ELSE 0 END) AS BIGINT)
               AS tokens_dropped
    FROM flags GROUP BY lang
    """,
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup removal with a RETENTION POLICY: within each LSH/CC
    cluster keep the doc with the most tokens (tie -> smallest
    doc_id) instead of the arbitrary min-id canonical -- the policy
    real corpus dedup runs, because near-dup clusters usually pair a
    full document with truncated copies and the training set should
    keep the complete one.  Per-language accounting adds token
    volumes so the policy's yield is visible (tests pin
    tokens_kept >= the min-id policy's).

    Plan shape: the keeper choice is a window over CLUSTERED docs
    only (candidate-pair nodes -- a tiny fraction of the corpus),
    partitioned by cluster_id; cluster sizes are diameter-bounded, so
    the window never sees more than one cluster per group.  The drop
    set broadcasts; the corpus scans once, as in dedup_apply.
    Entirely integer arithmetic -- engine-exact."""
    from ..io import read_table

    comp = connected_components(
        minhash_pairs(spark, sf_dir).select("doc_a", "doc_b"),
        "doc_a",
        "doc_b",
    ).select(F.col("node").alias("doc_id"), "cluster_id")
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.lower(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    member = tok.join(comp, "doc_id")
    from pyspark.sql.window import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), "doc_id"
    )
    drop = (
        member.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    flagged = tok.join(
        F.broadcast(drop.withColumn("dropped", F.lit(True))), "doc_id", "left"
    ).withColumn("dropped", F.coalesce(F.col("dropped"), F.lit(False)))
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.sum(F.when(~F.col("dropped"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(~F.col("dropped"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
        F.sum(F.when(F.col("dropped"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("tokens_dropped"),
    )


# ---------------------------------------------------------------------------
# Co-purchase graph: degree distribution + degree-oriented triangle count
# ---------------------------------------------------------------------------
_COP_SUPPORT = 2  # min co-occurrence count for an edge
_TRI_TOP = 20

# Undirected co-purchase edges: parts appearing in the same order at
# least _COP_SUPPORT times (pa < pb canonical form).
_COP_EDGES_SQL = f"""
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {_COP_SUPPORT}
"""


def _cop_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pa, pb) undirected co-purchase edges, pa < pb.  The per-order
    pair fan-out is bounded by order size (small constant), so edge
    generation is O(orders), never O(parts^2).

    Shape: per-order part sets are collected once (collect_set is
    safe -- set size is bounded by lines-per-order, a single-digit
    constant at any scale) and the a<b pairs expand JVM-side with
    array higher-order functions.  One shuffle on orderkey + the pair
    count; the earlier distinct + self-join form paid an extra
    distinct shuffle and a join for the same rows.  The explicit
    repartition spreads the single-file local corpus; on production
    multi-file tables it coalesces to a no-op under AQE.

    Fragment-cached (plans/fragments.py): FIVE registered graph
    queries (degree distribution, triangles, reachability, LPA,
    k-core) start from this same edge list, each previously paying
    the lineitem scan + pair fan-out + support aggregation again in
    the same batch window.  Production materializes the co-purchase
    edge table once per window next to the band/pair stores; with the
    cache off (tests, PLAN_AUDIT) every standalone plan is unchanged."""
    from .fragments import cached_frame

    return cached_frame(
        spark, ("cop_edges", sf_dir), lambda: _cop_edges_build(spark, sf_dir)
    )


def _cop_edges_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import read_table

    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
    )
    parts = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = parts.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ps"),
                    lambda a, i: F.transform(
                        F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                        lambda b: F.struct(a.alias("pa"), b.alias("pb")),
                    ),
                )
            )
        ).alias("e")
    ).select("e.pa", "e.pb")
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= _COP_SUPPORT)
        .select("pa", "pb")
    )


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH e AS ({_COP_EDGES_SQL}),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT pa AS node FROM e UNION ALL SELECT pb FROM e
      ) GROUP BY node
    )
    SELECT degree, count(*) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the part co-purchase graph (edges =
    part pairs bought together in >= {sup} orders) -- the first
    diagnostic run on any large graph, because the tail of this
    histogram decides whether downstream joins (triangles, CC,
    pagerank) need skew handling.

    Scale: edge generation is a per-order bounded fan-out + one
    support aggregate; degrees are one union + count; the histogram
    collapses to at most max-degree rows.  All partial-aggregating
    shuffles on integer keys."""
    e = _cop_edges(spark, sf_dir)
    # explode instead of unionAll: a union's two branches each
    # re-derive the edge-generation self-join; the explode keeps one
    # consumer and one derivation
    deg = (
        e.select(
            F.explode(F.array(F.col("pa"), F.col("pb"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH e AS ({_COP_EDGES_SQL}),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT pa AS node FROM e UNION ALL SELECT pb FROM e
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN e.pa ELSE e.pb END
               AS src,
             CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN e.pb ELSE e.pa END
               AS dst
      FROM e JOIN deg da ON da.node = e.pa JOIN deg db ON db.node = e.pb
    ),
    tri AS (
      SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
      FROM o o1 JOIN o o2 ON o2.src = o1.dst
      JOIN o o3 ON o3.src = o1.src AND o3.dst = o2.dst
    ),
    per_node AS (
      SELECT node, count(*) AS n_triangles FROM (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
      ) GROUP BY node
    )
    SELECT p.node, d.d AS degree, p.n_triangles
    FROM per_node p JOIN deg d ON d.node = p.node
    ORDER BY p.n_triangles DESC, p.node
    LIMIT {_TRI_TOP}
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting with DEGREE ORIENTATION -- the algorithm
    that makes triangle enumeration tractable on skewed graphs: every
    undirected edge is directed from its lower-(degree, id) endpoint
    to the higher one, so each triangle is enumerated exactly once
    AND the join fan-out of a hub node collapses (a node of degree d
    has out-degree <= sqrt-ish of d in expectation under this
    orientation; the wedge join never pivots on a hub's full
    neighborhood).  Emits the top {top} parts by triangle
    participation with their degrees -- the densely co-bought
    product clusters.

    Scale: two shuffle joins on integer node keys (wedge build +
    closure check) after the oriented edge list; this is the
    MapReduce-era Cohen / Suri-Vassilvitskii design, which is exactly
    a pair of DataFrame equi-joins in Spark -- AQE's skew split
    covers residual heavy keys.  The per-node rollup is a bounded
    3x explode of the triangle set."""
    # The edge list feeds degree computation, orientation, and the
    # final rollup join; without materialization Catalyst re-derives
    # the whole lineitem self-join PER CONSUMER (and the 3-way wedge
    # join would multiply that again) -- measured 4.2 s -> ~1.5 s.
    e = _cop_edges(spark, sf_dir).localCheckpoint()
    # degrees via explode, not unionAll: one consumer of e, one pass
    deg = (
        e.select(
            F.explode(F.array(F.col("pa"), F.col("pb"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("pb"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    # the oriented list is consumed three times by the wedge+closure
    # joins: materialize it once too
    o = (
        e.join(da, "pa")
        .join(db, "pb")
        .select(
            F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        )
        .localCheckpoint()
    )
    o1 = o.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    o2 = o.select(F.col("src").alias("v2"), F.col("dst").alias("w"))
    o3 = o.select(F.col("src").alias("u3"), F.col("dst").alias("w3"))
    tri = (
        o1.join(o2, F.col("v") == F.col("v2"))
        .join(
            o3,
            (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3")),
        )
        .select("u", "v", "w")
    )
    per_node = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        per_node.join(deg, "node")
        .select("node", F.col("d").alias("degree"), "n_triangles")
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(_TRI_TOP)
    )


graph_degree_distribution.__doc__ = graph_degree_distribution.__doc__.format(
    sup=_COP_SUPPORT
)
graph_triangle_count.__doc__ = graph_triangle_count.__doc__.format(
    top=_TRI_TOP
)


# ---------------------------------------------------------------------------
# k-hop reachability (recursive-query class: BFS from a seed node)
# ---------------------------------------------------------------------------
_BFS_HOPS = 3


@query(
    "graph_reachability",
    oracle=f"""
    WITH RECURSIVE e0 AS ({_COP_EDGES_SQL}),
    e AS (
      SELECT pa AS src, pb AS dst FROM e0
      UNION ALL SELECT pb, pa FROM e0
    ),
    deg AS (SELECT src AS node, count(*) AS degree FROM e GROUP BY src),
    seed AS (SELECT node FROM deg ORDER BY degree DESC, node LIMIT 1),
    walk(node, hops) AS (
      SELECT node, 0 FROM seed
      UNION
      SELECT e.dst, w.hops + 1 FROM walk w
      JOIN e ON e.src = w.node WHERE w.hops < {_BFS_HOPS}
    )
    SELECT node, CAST(min(hops) AS BIGINT) AS hops
    FROM walk GROUP BY node
    """,
)
def graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (BFS, <= {k} hops) from the highest-degree
    node of the part co-purchase graph -- the recursive-query class
    (SQL `WITH RECURSIVE`, Spark has no native equivalent), stated as
    semi-naive iterative evaluation: each round expands ONLY the
    frontier discovered last round (never re-expands settled nodes),
    which is the delta-based trick that makes recursive queries
    feasible at scale (reference semantics: the same k-hop walk a
    recommendation widget would run; cf. Datalog semi-naive eval).

    Scale: the edge list is materialized once (localCheckpoint) and
    re-joined per round; each round broadcasts the frontier into the
    edge scan (a bounded-hop egonet is << the graph by construction,
    the one regime where broadcasting the build side of a graph join
    is right) and anti-joins the equally-bounded visited set the same
    way, so the only per-round shuffle is the frontier dedup.  Hop
    count bounds the rounds, so the job count is a compile-time
    constant; only the NEW frontier is checkpointed per round (the
    visited set is the union of already-materialized frontiers --
    never re-materialized), exactly the semi-naive delta discipline."""
    e0 = _cop_edges(spark, sf_dir)
    e = (
        e0.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(e0.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .localCheckpoint()
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("degree")
    )
    seed = (
        deg.orderBy(F.col("degree").desc(), "node").limit(1).select("node")
    )
    layers = [
        seed.withColumn("hops", F.lit(0).cast("long")).localCheckpoint()
    ]
    for h in range(1, _BFS_HOPS + 1):
        frontier = layers[-1].select("node")
        visited = layers[0].select("node")
        for lay in layers[1:]:
            visited = visited.unionByName(lay.select("node"))
        nxt = (
            e.join(F.broadcast(frontier), e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(F.broadcast(visited), "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        layers.append(nxt)
    out = layers[0]
    for lay in layers[1:]:
        out = out.unionByName(lay)
    return out


graph_reachability.__doc__ = graph_reachability.__doc__.format(k=_BFS_HOPS)


# ---------------------------------------------------------------------------
# Community detection: synchronous majority-label propagation (2 rounds)
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 2


def _lpa_round_sql(prev: str, out: str) -> str:
    """One synchronous LPA round in DuckDB SQL: each node adopts the
    most frequent label among its neighbors (tie -> smallest label)."""
    return f"""
    {out}c AS (
      SELECT e.src AS node, {prev}.label, count(*) AS c
      FROM e JOIN {prev} ON {prev}.node = e.dst GROUP BY 1, 2
    ),
    {out} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM {out}c
      ) WHERE rn = 1
    )"""


@query(
    "graph_communities_lpa",
    oracle=f"""
    WITH e0 AS MATERIALIZED ({_COP_EDGES_SQL}),
    e AS (
      SELECT pa AS src, pb AS dst FROM e0
      UNION ALL SELECT pb, pa FROM e0
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
    {_lpa_round_sql('l0', 'l1')},
    {_lpa_round_sql('l1', 'l2')},
    sizes AS (SELECT label, count(*) AS community_size FROM l2 GROUP BY label)
    SELECT community_size, count(*) AS n_communities
    FROM sizes GROUP BY community_size
    """,
)
def graph_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph by
    SYNCHRONOUS majority-label propagation ({r} rounds): every node
    starts as its own label and each round adopts the most frequent
    label among its neighbors (tie -> smallest) -- the density-seeking
    complement to connected components (CC merges anything touching;
    LPA splits a connected blob into locally-dense communities).
    Output is the community-size histogram after round {r}.

    Scale shape: one round = one equi-join of the edge list against
    the current O(|V|) label map plus a (node, label) count -- all
    shuffle-partitioned on node/label keys, no windows over raw data
    (the per-node argmax runs on the (node, label) aggregate, whose
    size is bounded by the degree sum = |E|).  The argmax itself is a
    struct-min (count negated, then label), so tie-breaks are
    deterministic in both engines and the whole round is
    partial-aggregated.  Rounds are a fixed unrolled count -- the
    oracle states the identical two rounds as chained CTEs -- and the
    edge list materializes once (localCheckpoint) like the other
    iterative loops; synchronous update (read round k, write k+1)
    keeps the result schedule-independent, which asynchronous LPA is
    not."""
    e = _cop_edges(spark, sf_dir)
    edges = (
        e.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(e.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .localCheckpoint()
    )
    labels = edges.select(
        F.col("src").alias("node"), F.col("src").alias("label")
    ).distinct()
    for _ in range(_LPA_ROUNDS):
        nbr = edges.join(
            labels.withColumnRenamed("node", "dst_node"),
            edges.dst == F.col("dst_node"),
        ).select(F.col("src").alias("node"), "label")
        counts = nbr.groupBy("node", "label").agg(F.count("*").alias("c"))
        labels = counts.groupBy("node").agg(
            F.min(
                F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
            ).alias("w")
        ).select("node", F.col("w.l").alias("label"))
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return sizes.groupBy("community_size").agg(
        F.count("*").alias("n_communities")
    )


graph_communities_lpa.__doc__ = graph_communities_lpa.__doc__.format(
    r=_LPA_ROUNDS
)


# ---------------------------------------------------------------------------
# k-core peeling: iterative degree-threshold pruning with per-round trace
# ---------------------------------------------------------------------------
_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_round_sql(prev: str, out: str) -> str:
    return f"""
    {out}_deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT pa AS v FROM {prev} UNION ALL SELECT pb FROM {prev}
      ) GROUP BY 1
    ),
    {out}_keep AS (SELECT v FROM {out}_deg WHERE d >= {_KCORE_K}),
    {out} AS MATERIALIZED (
      SELECT pa, pb FROM {prev}
      WHERE pa IN (SELECT v FROM {out}_keep)
        AND pb IN (SELECT v FROM {out}_keep)
    )"""


def _kcore_stats_sql(tbl: str, rnd: int) -> str:
    return f"""
    SELECT {rnd} AS round,
           CAST((SELECT count(DISTINCT v) FROM (
                   SELECT pa AS v FROM {tbl}
                   UNION ALL SELECT pb FROM {tbl})) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM {tbl}) AS BIGINT) AS n_edges"""


@query(
    "graph_kcore_peel",
    oracle=f"""
    WITH e0 AS MATERIALIZED ({_COP_EDGES_SQL}),
    {_kcore_round_sql("e0", "e1")},
    {_kcore_round_sql("e1", "e2")},
    {_kcore_round_sql("e2", "e3")}
    {_kcore_stats_sql("e0", 0)}
    UNION ALL {_kcore_stats_sql("e1", 1)}
    UNION ALL {_kcore_stats_sql("e2", 2)}
    UNION ALL {_kcore_stats_sql("e3", 3)}
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core decomposition by iterative peeling on the
    co-purchase graph: each round drops every part whose remaining
    degree is below {k}, plus the edges it carried, and the
    (round, nodes, edges) trace is emitted -- the dense-substructure
    extractor behind community seeding and spam/bot subgraph mining
    (a node surviving all rounds has >= {k} neighbours INSIDE the
    surviving set, a far stronger signal than raw degree).

    Scale shape: each of the {r} fixed rounds is one degree
    aggregation (explode endpoints -> count) plus two semi-joins of
    the edge list against the kept-node set -- all shuffles keyed on
    node id, cost proportional to the CURRENT edge set, which only
    shrinks.  The edge list is localCheckpointed per round (the
    iterative-loop lineage-truncation discipline of
    connected_components / pagerank); the per-round stats are 1-row
    aggregates unioned at the end, so the trace costs no extra pass
    over the graph.  Fixed round count keeps the oracle statable as
    unrolled CTEs; convergence-to-fixpoint is the same loop with the
    repo's fused convergence probe."""
    e = _cop_edges(spark, sf_dir).localCheckpoint(eager=True)
    stats = []
    cur = e
    for rnd in range(_KCORE_ROUNDS + 1):
        nodes = (
            cur.select(
                F.explode(F.array(F.col("pa"), F.col("pb"))).alias("v")
            )
            .agg(F.countDistinct("v").cast("bigint").alias("n_nodes"))
        )
        edges = cur.agg(F.count("*").cast("bigint").alias("n_edges"))
        stats.append(
            nodes.join(F.broadcast(edges)).select(
                F.lit(rnd).alias("round"), "n_nodes", "n_edges"
            )
        )
        if rnd == _KCORE_ROUNDS:
            break
        deg = (
            cur.select(
                F.explode(F.array(F.col("pa"), F.col("pb"))).alias("v")
            )
            .groupBy("v")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= _KCORE_K).select("v")
        cur = (
            cur.join(keep, cur.pa == keep.v, "left_semi")
            .join(keep, cur.pb == keep.v, "left_semi")
            .localCheckpoint(eager=True)
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


graph_kcore_peel.__doc__ = graph_kcore_peel.__doc__.format(
    k=_KCORE_K, r=_KCORE_ROUNDS
)
