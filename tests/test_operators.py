"""Unit tests for the reusable operators: lookup joins with defaults,
array-membership collect joins, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mvp_mini_etl_pipeline_1762840347_spark.operators.joins import (
    collect_members_join,
    lookup_join_with_default,
)
from mvp_mini_etl_pipeline_1762840347_spark.operators import multimodal as mm


def test_lookup_join_with_default(spark):
    """J1 semantics: miss -> 'Unknown' default (spacex.js:32 shape)."""
    launches = spark.createDataFrame(
        [("l1", "r1"), ("l2", "r-missing")], "id string, rocket_id string"
    )
    rockets = spark.createDataFrame(
        [("r1", "Falcon 9")], "rid string, rocket_name string"
    )
    out = lookup_join_with_default(
        launches,
        rockets,
        "rocket_id",
        "rid",
        {"rocket_name": F.col("rocket_id")},
    )
    got = {r["id"]: r["rocket_name"] for r in out.collect()}
    assert got == {"l1": "Falcon 9", "l2": "r-missing"}


def test_collect_members_join(spark):
    """J3 semantics: per-owner member collection incl. empty arrays."""
    launches = spark.createDataFrame(
        [("l1", ["p1", "p2"]), ("l2", ["p-missing"]), ("l3", [])],
        "id string, payload_ids array<string>",
    )
    payloads = spark.createDataFrame(
        [("p1", "Starlink"), ("p2", "Iridium")], "pid string, pname string"
    )
    out = collect_members_join(
        launches, "id", "payload_ids", payloads, "pid", ["pid", "pname"]
    ).collect()
    got = {r["id"]: (sorted(m["pname"] for m in r["members"]), r["members_count"]) for r in out}
    assert got["l1"] == (["Iridium", "Starlink"], 2)
    assert got["l2"] == ([], 0)
    assert got["l3"] == ([], 0)


def test_multimodal_feature_extraction(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    media = mm.fake_media_from_documents(docs)
    feats = mm.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    r = rows[0]
    assert r["n_bytes"] > 0
    assert len(r["content_sha"]) == 64
    assert len(r["features"]) == mm.FEATURE_DIM
    assert all(0.0 <= f <= 1.0 for f in r["features"])
    # determinism across repartitioning
    feats2 = mm.extract_features(media.repartition(7))
    assert {(x["media_id"], x["content_sha"]) for x in feats2.collect()} == {
        (x["media_id"], x["content_sha"]) for x in rows
    }


def test_multimodal_pixel_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG")


def test_bmp_wav_roundtrip_pure_python():
    """The stdlib writers produce files the stdlib parser reads back
    exactly -- and the WAV one is additionally cross-checked against
    Python's own wave module (an independent reference decoder)."""
    bmp = mm.build_bmp(13, 7, b"pixels!")
    got = mm.parse_media_header(bmp)
    assert (got["mime"], got["width"], got["height"]) == ("image/bmp", 13, 7)
    # BMP size arithmetic: 54-byte headers + 4-aligned rows
    assert len(bmp) == 54 + ((3 * 13 + 3) // 4) * 4 * 7

    wav = mm.build_wav(11000, 321, b"audio-bytes")
    got = mm.parse_media_header(wav)
    assert (got["mime"], got["sample_rate"], got["n_frames"]) == (
        "audio/wav", 11000, 321,
    )
    import io
    import wave

    with wave.open(io.BytesIO(wav)) as w:
        assert w.getframerate() == 11000
        assert w.getnframes() == 321
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2

    # unknown container: all-null fields, never fabricated metadata
    got = mm.parse_media_header(b"\x89PNG not parseable here")
    assert all(v is None for v in got.values())
    assert all(v is None for v in mm.parse_media_header(None).values())


def test_real_media_decode_roundtrip(spark, sf_dir):
    """Generation -> binary column -> header decode, distributed:
    every image/audio row decodes to the parameters it was built
    with; video rows (raw bytes) decode to nulls."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    media = mm.real_media_from_documents(docs)
    rows = mm.decode_media_headers(media).collect()
    assert len(rows) == 30
    for r in rows:
        if r["kind"] == "image":
            assert r["mime"] == "image/bmp"
            assert r["width"] == 8 + r["media_id"] % 24
            assert r["height"] == 8 + r["media_id"] % 16
            assert r["sample_rate"] is None
        elif r["kind"] == "audio":
            assert r["mime"] == "audio/wav"
            assert r["sample_rate"] == 8000 + 1000 * (r["media_id"] % 5)
            assert r["width"] is None
        else:
            assert r["mime"] is None and r["width"] is None


def test_frame_sample(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    media = mm.fake_media_from_documents(docs)
    frames = mm.frame_sample(media, every_n=10).collect()
    assert frames, "expected sampled frames for video rows"
    assert all(f["frame_idx"] % 10 == 0 for f in frames)


# ---------------------------------------------------------------------------
# Incremental LSH dedup
# ---------------------------------------------------------------------------
def test_incremental_lsh_matches_batch(spark, sf_dir):
    """Old-corpus signature store + new batch must yield exactly the
    batch pipeline's candidate pairs that involve a new doc."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.plans.dedup import (
        band_signatures,
        incremental_lsh_candidates,
        minhash_pairs,
    )

    docs = read_table(spark, sf_dir, "documents")
    cut = 400
    old_docs = docs.filter(F.col("doc_id") < cut)
    new_docs = docs.filter(F.col("doc_id") >= cut)

    store = band_signatures(old_docs)
    inc_pairs, new_sigs = incremental_lsh_candidates(store, new_docs)

    full = minhash_pairs(spark, sf_dir)
    expected = full.filter(
        (F.col("doc_a") >= cut) | (F.col("doc_b") >= cut)
    )
    got = sorted(tuple(r) for r in inc_pairs.collect())
    want = sorted(tuple(r) for r in expected.collect())
    assert got == want
    # the appended store equals the batch signatures of the new docs
    assert new_sigs.count() == band_signatures(new_docs).count()


# ---------------------------------------------------------------------------
# Distributed prefix sum (operators/prefix.py)
# ---------------------------------------------------------------------------
def test_exclusive_cumsum_matches_global_window(spark):
    """Three-level hierarchical prefix sum == the single global window
    it replaces, on sparse keys with widths small enough that every
    level is exercised (multiple buckets AND multiple super-buckets)."""
    from pyspark.sql.window import Window

    from mvp_mini_etl_pipeline_1762840347_spark.operators.prefix import (
        exclusive_cumsum,
    )

    rows = [(k * 7 + 3, (k * 37) % 11 + 1) for k in range(200)]
    df = spark.createDataFrame(rows, "key long, v long").repartition(8)
    got = exclusive_cumsum(
        df, "key", "v", bucket_width=16, super_width=4
    )
    w = Window.orderBy("key").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn(
        "cumsum_before", F.coalesce(F.sum("v").over(w), F.lit(0))
    )
    assert sorted(got.collect(), key=lambda r: r.key) == sorted(
        want.collect(), key=lambda r: r.key
    )
    assert got.columns == ["key", "v", "cumsum_before"]


def test_exclusive_cumsum_single_bucket_edge(spark):
    """Degenerate case: everything lands in one bucket/super -- the
    operator must still agree (offsets all zero)."""
    from pyspark.sql.window import Window

    from mvp_mini_etl_pipeline_1762840347_spark.operators.prefix import (
        exclusive_cumsum,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "key long, v long"
    )
    got = exclusive_cumsum(df, "key", "v")
    w = Window.orderBy("key").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn(
        "cumsum_before", F.coalesce(F.sum("v").over(w), F.lit(0))
    )
    assert sorted(got.collect()) == sorted(want.collect())


def test_shuffled_packing_interleaves_and_conserves(spark, sf_dir):
    """pack_sequences_shuffled must (a) conserve the corpus (same
    total docs/tokens as the ordered pack), (b) actually interleave:
    most sequences' doc-id ranges overlap other sequences' ranges,
    unlike the ordered pack where ranges are disjoint and contiguous."""
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    ordered = plans.QUERIES["pack_sequences"](spark, sf_dir).collect()
    shuffled = plans.QUERIES["pack_sequences_shuffled"](spark, sf_dir).collect()

    assert sum(r["n_docs"] for r in ordered) == sum(
        r["n_docs"] for r in shuffled
    )
    assert sum(r["seq_tokens"] for r in ordered) == sum(
        r["seq_tokens"] for r in shuffled
    )

    def overlaps(rows):
        spans = sorted((r["first_doc"], r["last_doc"]) for r in rows)
        return sum(
            1 for (_, e1), (s2, _) in zip(spans, spans[1:]) if s2 <= e1
        )

    # ordered packing: doc-id spans are disjoint by construction
    assert overlaps(ordered) == 0
    # shuffled packing: nearly every adjacent span pair overlaps
    assert overlaps(shuffled) >= 0.8 * (len(shuffled) - 1)


def test_exclusive_cumsum_per_group_matches_window(spark):
    """Per-group scan: exclusive_cumsum(partition_by=g) must equal an
    independent PARTITION BY g window per group, with group sizes
    spanning one row, one bucket, and several super-buckets."""
    from pyspark.sql.window import Window

    from mvp_mini_etl_pipeline_1762840347_spark.operators.prefix import (
        exclusive_cumsum,
    )

    rows = []
    for g, n in (("a", 1), ("b", 17), ("c", 200)):
        rows += [(g, k * 3 + 1, (k * 13) % 7 + 1) for k in range(n)]
    df = spark.createDataFrame(rows, "g string, key long, v long").repartition(8)
    got = exclusive_cumsum(
        df, "key", "v", bucket_width=16, super_width=4, partition_by="g"
    )
    w = (
        Window.partitionBy("g")
        .orderBy("key")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.withColumn(
        "cumsum_before", F.coalesce(F.sum("v").over(w), F.lit(0))
    )
    key = lambda r: (r["g"], r["key"])
    assert sorted(
        ((r["g"], r["key"], r["cumsum_before"]) for r in got.collect())
    ) == sorted(((r["g"], r["key"], r["cumsum_before"]) for r in want.collect()))


def test_dedup_keep_longest_beats_min_id_policy(spark, sf_dir):
    """The retention policy must (a) drop exactly as many docs as the
    min-id policy (same clusters, one keeper each), (b) keep at least
    as many tokens (it keeps the longest member instead of an
    arbitrary one)."""
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    by_len = {r["lang"]: r for r in plans.QUERIES["dedup_keep_longest"](spark, sf_dir).collect()}
    min_id = {r["lang"]: r for r in plans.QUERIES["dedup_apply"](spark, sf_dir).collect()}
    assert set(by_len) == set(min_id)
    total_dropped_len = sum(r["n_dropped"] for r in by_len.values())
    total_dropped_min = sum(r["n_dropped"] for r in min_id.values())
    assert total_dropped_len == total_dropped_min

    # token yield: recompute the min-id policy's kept tokens and
    # compare corpus-wide (per-lang keepers can differ across policies)
    from pyspark.sql import functions as SF
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.plans.graph import dedup_clusters

    comp = dedup_clusters(spark, sf_dir)
    drop = comp.filter(~SF.col("is_canonical")).select("doc_id")
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", SF.size(SF.split(SF.lower(SF.col("text")), r"\s+")).alias("n_tokens")
    )
    min_id_tokens_kept = (
        d.join(drop, "doc_id", "left_anti").agg(SF.sum("n_tokens")).first()[0]
    )
    assert sum(r["tokens_kept"] for r in by_len.values()) >= min_id_tokens_kept


def test_split_leakage_free_no_cluster_spans_splits(spark, sf_dir):
    """The invariant itself, per-doc: no near-dup cluster may have
    members in more than one split."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.plans.dedup import minhash_pairs
    from mvp_mini_etl_pipeline_1762840347_spark.plans.graph import (
        connected_components,
    )
    from mvp_mini_etl_pipeline_1762840347_spark.plans.quality import hash_bucket

    comp = connected_components(
        minhash_pairs(spark, sf_dir).select("doc_a", "doc_b"),
        "doc_a", "doc_b",
    ).select(F.col("node").alias("doc_id"), "cluster_id")
    d = read_table(spark, sf_dir, "documents").select("doc_id")
    keyed = d.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("split_key"),
    )
    b = hash_bucket(F.col("split_key"))
    per_doc = keyed.select(
        "split_key",
        F.when(b < 2, "test").when(b < 4, "val").otherwise("train").alias("split"),
    )
    spans = (
        per_doc.groupBy("split_key")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert spans == 0
    # sanity: multi-doc clusters exist, so the invariant is non-vacuous
    multi = comp.groupBy("cluster_id").count().filter(F.col("count") > 1).count()
    assert multi > 0


# ---------------------------------------------------------------------------
# Multi-format dataset IO round-trips (operators/formats.py)
# ---------------------------------------------------------------------------


def test_formats_roundtrip_every_native_format(spark, sf_dir, tmp_path):
    """customer survives a write->read round-trip value-identically in
    every natively supported format; row formats get the writer's
    schema back and reproduce exact types."""
    import pytest as _pytest

    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.operators import formats

    df = read_table(spark, sf_dir, "customer")
    want = sorted(map(tuple, df.collect()))
    for fmt in formats.FORMATS:
        path = str(tmp_path / f"rt_{fmt}")
        formats.write_dataset(df, path, fmt)
        back = formats.read_dataset(spark, path, fmt, schema=df.schema)
        assert back.schema == df.schema, fmt
        assert sorted(map(tuple, back.collect())) == want, fmt

    with _pytest.raises(formats.UnsupportedFormat):
        formats.write_dataset(df, str(tmp_path / "nope"), "avro")
    with _pytest.raises(formats.UnsupportedFormat):
        formats.read_dataset(spark, str(tmp_path / "nope"), "bogus")


def test_formats_orc_pushdown_reaches_scan(spark, sf_dir, tmp_path):
    """ORC keeps the parquet-class pushdown: a filter on the read
    lands in the scan's PushedFilters (the reason the columnar pair
    is the only acceptable at-scale choice)."""
    from pyspark.sql import functions as F

    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.operators import formats

    path = str(tmp_path / "orc_push")
    formats.write_dataset(
        read_table(spark, sf_dir, "customer"), path, "orc"
    )
    scan = formats.read_dataset(spark, path, "orc").filter(
        F.col("c_custkey") == 7
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "c_custkey" in plan


def test_formats_nested_columns_survive_columnar_and_json(
    spark, sf_dir, tmp_path
):
    """The embeddings table (array column) round-trips through
    parquet/orc/json; csv correctly refuses nested data."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.operators import formats

    df = read_table(spark, sf_dir, "embeddings")
    want = df.count()
    for fmt in ("parquet", "orc", "json"):
        path = str(tmp_path / f"nested_{fmt}")
        formats.write_dataset(df, path, fmt)
        back = formats.read_dataset(spark, path, fmt, schema=df.schema)
        assert back.count() == want, fmt

    import pytest as _pytest

    with _pytest.raises(Exception):
        formats.write_dataset(df, str(tmp_path / "nested_csv"), "csv")


def test_exclusive_cummax_matches_global_window(spark):
    """Three-level hierarchical prefix MAX == the single global window
    it replaces, on sparse keys exercising every level, including the
    floor on the first row of each prefix."""
    from pyspark.sql.window import Window

    from mvp_mini_etl_pipeline_1762840347_spark.operators.prefix import (
        exclusive_cummax,
    )

    rows = [(k * 7 + 3, ((k * 37) % 23) - 5) for k in range(200)]
    df = spark.createDataFrame(rows, "key long, v long").repartition(8)
    got = exclusive_cummax(
        df, "key", "v", floor=-100, bucket_width=16, super_width=4
    )
    w = Window.orderBy("key").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn(
        "cummax_before", F.coalesce(F.max("v").over(w), F.lit(-100))
    )
    assert sorted(got.collect(), key=lambda r: r.key) == sorted(
        want.collect(), key=lambda r: r.key
    )
    assert got.columns == ["key", "v", "cummax_before"]


def test_skyline_parts_is_exact_dominance_set(spark, sf_dir):
    """The scan-based skyline equals the brute-force dominance
    definition: a kept part has no other part both cheaper-or-equal
    and higher-revenue (strictly better in at least one dim)."""
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    parts = (
        plans.QUERIES["skyline_parts"](spark, sf_dir)
        .sparkSession.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            "l_partkey",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("pc"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("vc"),
        )
        .groupBy("l_partkey")
        .agg(F.min("pc").alias("p"), F.sum("vc").alias("v"))
        .collect()
    )
    pts = [(r.p, r.v, r.l_partkey) for r in parts]

    def dominated(a):
        return any(
            (b[0] <= a[0] and b[1] >= a[1] and (b[0] < a[0] or b[1] > a[1]))
            or (b[0] == a[0] and b[1] == a[1] and b[2] < a[2])
            for b in pts
            if b is not a
        )

    want = {a[2] for a in pts if not dominated(a)}
    got = {
        r.l_partkey
        for r in plans.QUERIES["skyline_parts"](spark, sf_dir).collect()
    }
    assert got == want
    assert got, "degenerate frontier"


def test_connected_components_raises_past_the_round_cap(spark):
    """A label moves one hop per round: a path longer than MAX_ITERS
    hops cannot converge in the cap and must raise, not return
    unconverged labels; a shorter path still converges exactly."""
    from mvp_mini_etl_pipeline_1762840347_spark.plans import graph

    def path(n):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "a bigint, b bigint"
        )

    n = graph.MAX_ITERS + 5
    with pytest.raises(RuntimeError, match="still changing"):
        graph.connected_components(path(n), "a", "b").collect()
    labels = graph.connected_components(path(6), "a", "b").collect()
    assert sorted((r.node, r.cluster_id) for r in labels) == [(i, 0) for i in range(7)]
