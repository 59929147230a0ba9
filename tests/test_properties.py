"""Property-based tests (hypothesis) for the normalizer laws and the
CSV quoting round-trip (SURVEY §5.4)."""

from __future__ import annotations

import csv
import io

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from mvp_mini_etl_pipeline_1762840347_spark.functions.js import csv_quote, js_str_or

TEXT = st.one_of(st.none(), st.text(max_size=12))


def _js_or_py(a, b):
    """Reference-JS `a || b` for strings ('' and None falsy)."""
    return a if a else b


@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(TEXT, TEXT), min_size=1, max_size=8))
def test_js_str_or_matches_js_semantics(spark, pairs):
    df = spark.createDataFrame(pairs, "a string, b string")
    got = [r[0] for r in df.select(js_str_or(F.col("a"), F.col("b"))).collect()]
    want = [_js_or_py(a, b) for a, b in pairs]
    assert got == want


@settings(max_examples=12, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=20)), min_size=1, max_size=8))
def test_csv_quote_roundtrip(spark, values):
    """A csv_quote'd cell always parses back to the original value
    (None -> '')."""
    df = spark.createDataFrame([(v,) for v in values], "a string")
    quoted = [r[0] for r in df.select(csv_quote(F.col("a"))).collect()]
    for original, cell in zip(values, quoted):
        line = io.StringIO(cell + "\n")
        parsed = next(csv.reader(line))
        # csv.reader splits on embedded newlines/commas inside quotes fine
        assert "".join(parsed) if len(parsed) > 1 else parsed[0] == (original or "")


def test_js_str_or_associativity(spark):
    """(a || b) || c == a || (b || c) -- the law the chained defaults
    in the reference rely on."""
    rows = [(a, b, c) for a in ("", None, "x") for b in ("", None, "y") for c in ("z",)]
    df = spark.createDataFrame(rows, "a string, b string, c string")
    left = df.select(
        js_str_or(js_str_or(F.col("a"), F.col("b")), F.col("c")).alias("v")
    ).collect()
    right = df.select(
        js_str_or(F.col("a"), js_str_or(F.col("b"), F.col("c"))).alias("v")
    ).collect()
    assert [r["v"] for r in left] == [r["v"] for r in right]


# ---------------------------------------------------------------------------
# Scale-operator laws (operators/scale.py, plans/quality.py)
# ---------------------------------------------------------------------------
PAIRS = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 1000)),
    min_size=1,
    max_size=20,
)


@settings(max_examples=8, deadline=None)
@given(big=PAIRS, small=st.lists(st.integers(0, 20), min_size=1, max_size=8, unique=True))
def test_salted_join_law(spark, big, small):
    """salted_join == plain join on arbitrary key distributions
    (including keys present only on one side)."""
    from mvp_mini_etl_pipeline_1762840347_spark.operators.scale import salted_join

    b = spark.createDataFrame(big, "k int, payload int")
    s = spark.createDataFrame([(k, f"v{k}") for k in small], "k2 int, v string")
    plain = sorted(
        tuple(r) for r in b.join(s, b.k == s.k2).select("k", "payload", "v").collect()
    )
    salted = sorted(
        tuple(r)
        for r in salted_join(b, s, "k", "k2", n_salts=4)
        .select("k", "payload", "v")
        .collect()
    )
    assert salted == plain


@settings(max_examples=8, deadline=None)
@given(
    target=st.lists(st.tuples(st.integers(0, 10), st.floats(0, 100, allow_nan=False)), min_size=0, max_size=10, unique_by=lambda t: t[0]),
    updates=st.lists(st.tuples(st.integers(0, 10), st.floats(0, 100, allow_nan=False)), min_size=0, max_size=10, unique_by=lambda t: t[0]),
)
def test_merge_upsert_laws(spark, target, updates):
    """merge semantics: result keys = union of keys; update wins on
    overlap; applying the same updates twice is idempotent."""
    from mvp_mini_etl_pipeline_1762840347_spark.operators.scale import merge_upsert

    t = spark.createDataFrame(target, "id int, v double")
    u = spark.createDataFrame(updates, "id int, v double")
    once = {r["id"]: r["v"] for r in merge_upsert(t, u, "id").collect()}
    expected = {k: v for k, v in target}
    expected.update(dict(updates))
    assert once == expected
    twice_df = merge_upsert(spark.createDataFrame(list(once.items()) or [], "id int, v double") if once else t.limit(0), u, "id")
    assert {r["id"]: r["v"] for r in twice_df.collect()} == expected


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=30))
def test_hash_bucket_range_and_determinism(spark, keys):
    """hash_bucket is total (0..15), deterministic, and independent of
    row order/partitioning -- the properties reproducible splits rely
    on."""
    from mvp_mini_etl_pipeline_1762840347_spark.plans.quality import hash_bucket

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    a = {r["k"]: r["b"] for r in df.select("k", hash_bucket(F.col("k")).alias("b")).collect()}
    assert all(0 <= v <= 15 for v in a.values())
    rev = spark.createDataFrame([(k,) for k in reversed(keys)], "k long").repartition(3)
    b = {r["k"]: r["b"] for r in rev.select("k", hash_bucket(F.col("k")).alias("b")).collect()}
    assert a == b


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("ab \t\né世 "),
            max_size=30,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_row_band_signatures_equal_grouped_any_text(spark, texts):
    """The per-row (array-fold) and grouped (partial-agg) LSH signature
    builders must agree on arbitrary text: empty strings, runs of mixed
    whitespace, unicode, and sub-3-token docs (both drop them)."""
    from mvp_mini_etl_pipeline_1762840347_spark.plans.dedup import (
        band_signatures,
        row_band_signatures,
    )

    rows = [(i, t, "xx", "src", len(t)) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    grouped = {tuple(r) for r in band_signatures(docs).collect()}
    per_row = {tuple(r) for r in row_band_signatures(docs).collect()}
    assert per_row == grouped


# ---------------------------------------------------------------------------
# Round-5 operator laws: BFS vs a sequential reference, M4 merge
# algebra, chunking reconstruction
# ---------------------------------------------------------------------------
_EDGE = st.tuples(
    st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_EDGE, min_size=1, max_size=20))
def test_bfs_frontier_loop_matches_sequential_reference(spark, raw_edges):
    """The semi-naive frontier loop (graph_reachability's core) must
    compute the same min-hop map as a sequential BFS on any small
    graph -- seeded at the max-degree node, hops <= 3, both-direction
    edges, self-loops ignored."""
    from pyspark.sql import functions as F

    # canonicalize to the _cop_edges contract the loop consumes:
    # distinct undirected pairs with pa < pb (no reciprocal
    # duplicates -- (1,2) and (2,1) are the same co-purchase edge,
    # and double-counting them would skew the seed's degree)
    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    # sequential reference
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(v) for n, v in adj.items()}
    seed = max(deg, key=lambda n: (deg[n], -n))
    want = {seed: 0}
    frontier = [seed]
    for h in (1, 2, 3):
        nxt = sorted(
            {m for n in frontier for m in adj[n] if m not in want}
        )
        for m in nxt:
            want[m] = h
        frontier = nxt
    # distributed loop (same shape as graph_reachability)
    e0 = spark.createDataFrame(edges, "pa long, pb long")
    e = e0.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(e0.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    e = e.localCheckpoint()
    dd = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    sd = dd.orderBy(F.col("d").desc(), "node").limit(1).select("node")
    layers = [sd.withColumn("hops", F.lit(0).cast("long")).localCheckpoint()]
    for h in (1, 2, 3):
        fr = layers[-1].select("node")
        vis = layers[0].select("node")
        for lay in layers[1:]:
            vis = vis.unionByName(lay.select("node"))
        nxt = (
            e.join(F.broadcast(fr), e.src == fr.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(F.broadcast(vis), "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        layers.append(nxt)
    out = layers[0]
    for lay in layers[1:]:
        out = out.unionByName(lay)
    got = {r.node: r.hops for r in out.collect()}
    assert got == want


_EVENT = st.tuples(
    st.integers(min_value=0, max_value=86_399),  # seconds within a day
    st.floats(min_value=-100, max_value=100, allow_nan=False),
)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(_EVENT, min_size=1, max_size=24),
    st.integers(min_value=1, max_value=5),
)
def test_m4_merge_is_partition_invariant(spark, raw, n_parts):
    """Merging M4 state over ANY partition of the events equals the
    one-shot state -- the algebraic-state law that makes backfill
    equal live for the streaming twin."""
    from mvp_mini_etl_pipeline_1762840347_spark.operators.scale import fold
    from mvp_mini_etl_pipeline_1762840347_spark.streaming.jobs import (
        M4_REDUCERS,
        m4_state,
    )
    from pyspark.sql import functions as F

    rows = [
        (i, f"2024-01-01 {s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}", v)
        for i, (s, v) in enumerate(raw)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, value double"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    oneshot = m4_state(df)

    def key(df_):
        return {
            str(r["bucket"]): (
                r["n_points"], r["v_min"], r["v_max"],
                r["first_key"], r["v_first"], r["last_key"], r["v_last"],
            )
            for r in df_.collect()
        }

    # fold the per-slice states pairwise through the fold and the
    # reducers m4_merge_step ships
    slices = [
        m4_state(df.filter(F.col("event_id") % n_parts == i))
        for i in range(n_parts)
    ]
    merged = slices[0]
    for s in slices[1:]:
        merged = fold(s, ["bucket"], **M4_REDUCERS)(merged)
    assert key(merged) == key(oneshot)


# ---------------------------------------------------------------------------
# Release-manifest merge law: for ANY split of a document set into
# micro-batches, sequentially merging per-batch manifests equals the
# whole-set manifest (counts add, ranges widen, XOR composes) -- the
# algebra release_manifest_stream depends on, beyond the one
# file-split parity test.
# ---------------------------------------------------------------------------
_DOC = st.tuples(
    st.integers(0, 10**6),                      # doc_id
    st.text(max_size=10),                       # text
    st.sampled_from(["web", "wiki", "code"]),   # source
)


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(_DOC, min_size=1, max_size=12, unique_by=lambda d: d[0]),
    n_batches=st.integers(1, 4),
)
def test_release_manifest_merge_law(spark, docs, n_batches, tmp_path_factory):
    from mvp_mini_etl_pipeline_1762840347_spark.plans.scrub import (
        manifest_frame,
    )
    from mvp_mini_etl_pipeline_1762840347_spark.streaming.jobs import (
        release_manifest_merge_step,
    )

    def frame(rows):
        return spark.createDataFrame(
            [(i, t, s, len(t)) for i, t, s in rows],
            "doc_id long, text string, source string, n_chars long",
        )

    state = str(tmp_path_factory.mktemp("mml") / "state")
    batches = [docs[i::n_batches] for i in range(n_batches)]
    applied = 0
    for bid, batch in enumerate(b for b in batches if b):
        assert release_manifest_merge_step(spark, frame(batch), bid, state)
        applied += 1
    assert applied >= 1

    got = {
        r["source"]: r.asDict()
        for r in spark.read.parquet(state).collect()
        if r["source"] is not None
    }
    want = {
        r["source"]: r.asDict() for r in manifest_frame(frame(docs)).collect()
    }
    assert got == want, (got, want)
