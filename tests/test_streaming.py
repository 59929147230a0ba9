"""Structured Streaming tests: file-source stream over the events
parquet driven to completion into memory sinks; batch/stream parity
for the tumbling window."""

from __future__ import annotations

from pyspark.sql import functions as F

from mvp_mini_etl_pipeline_1762840347_spark import plans
from mvp_mini_etl_pipeline_1762840347_spark.streaming import jobs
import pytest
import shutil


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    """Landing-zone directory with the events parquet (the file stream
    source consumes directories)."""
    d = tmp_path_factory.mktemp("events_landing")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_tumbling_stream_matches_batch(spark, sf_dir, events_dir):
    ev = jobs.stream_events(spark, events_dir)
    q = jobs.run_to_memory(
        jobs.tumbling_counts_stream(ev), "tumbling_out", output_mode="append"
    )
    try:
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in spark.sql("SELECT * FROM tumbling_out").collect()
        }
        batch = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in plans.QUERIES["events_tumbling"](spark, sf_dir)
            .select("window_start", "event_type", "n_events", "total_value")
            .collect()
        }
        # Append mode only emits windows the watermark has closed; every
        # emitted window must match the batch result exactly.
        assert got, "stream emitted no windows"
        for k, v in got.items():
            assert batch[k] == v
        assert len(got) >= len(batch) * 0.8  # all but the tail emitted
    finally:
        q.stop()


def test_session_stream_runs(spark, sf_dir, events_dir):
    ev = jobs.stream_events(spark, events_dir)
    q = jobs.run_to_memory(jobs.session_counts_stream(ev), "session_out")
    try:
        rows = spark.sql("SELECT count(*) AS n FROM session_out").collect()
        assert rows[0]["n"] > 0
    finally:
        q.stop()


def test_session_stream_matches_batch(spark, sf_dir, events_dir):
    """Every watermark-closed session the stream emits must equal the
    batch session_window aggregate for the same (user, start) key --
    the backfill-agrees-with-live property for sessionization."""
    ev = jobs.stream_events(spark, events_dir)
    q = jobs.run_to_memory(
        jobs.session_counts_stream(ev), "session_parity_out"
    )
    try:
        got = {
            (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
            for r in spark.sql("SELECT * FROM session_parity_out").collect()
        }
        batch = {
            (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
            for r in plans.QUERIES["events_session"](spark, sf_dir).collect()
        }
        assert got, "stream emitted no closed sessions"
        for k, v in got.items():
            assert batch[k] == v, k
        # only sessions still open at the final watermark may be missing
        assert len(got) >= len(batch) * 0.8
    finally:
        q.stop()


def test_dedup_stream_bounded(spark, sf_dir, events_dir):
    ev = jobs.stream_events(spark, events_dir)
    q = jobs.run_to_memory(jobs.dedup_stream(ev), "dedup_out")
    try:
        out = spark.sql("SELECT user_id, event_type, count(*) c FROM dedup_out GROUP BY 1,2")
        dup_keys = out.filter(F.col("c") > 1).count()
        total = spark.sql("SELECT count(*) n FROM dedup_out").collect()[0]["n"]
        assert total > 0
        # within one watermark horizon no duplicate keys may be emitted
        # twice *from the same micro-batch*; with a single input batch
        # this means exact dedup:
        assert dup_keys == 0
    finally:
        q.stop()


def test_stateful_running_totals(spark, sf_dir, events_dir):
    ev = jobs.stream_events(spark, events_dir)
    q = jobs.run_to_memory(
        jobs.running_user_totals_stream(ev), "totals_out", output_mode="update"
    )
    try:
        rows = spark.sql(
            "SELECT user_id, max(n_events) n FROM totals_out GROUP BY user_id"
        ).collect()
        assert rows
        batch_counts = {
            r["user_id"]: r["n"]
            for r in spark.read.parquet(f"{sf_dir}/events.parquet")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        got = {r["user_id"]: r["n"] for r in rows}
        assert got == batch_counts
    finally:
        q.stop()


def test_foreachbatch_merge_matches_batch(spark, sf_dir, events_dir, tmp_path_factory):
    """Streaming incremental merge == batch aggregate over the same
    input (the backfill-agrees-with-live property for the additive
    merge path)."""
    target = str(tmp_path_factory.mktemp("merge_target") / "per_user")
    ev = jobs.stream_events(spark, events_dir)
    q = jobs.merge_stream_into_parquet(spark, ev, target)
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 2))
        for r in spark.read.parquet(target).collect()
    }
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_events

    batch = {
        r["user_id"]: (r["n"], round(r["v"], 2))
        for r in read_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert got == batch


def test_foreachbatch_merge_multibatch_matches_batch(
    spark, sf_dir, tmp_path_factory
):
    """The additive merge must accumulate correctly across SEVERAL
    micro-batches, not just a single replay: land the events as two
    files, cap the source at one file per trigger, and require the
    final target to equal the one-shot batch aggregate."""
    import os

    from mvp_mini_etl_pipeline_1762840347_spark.io import read_events

    base = tmp_path_factory.mktemp("multibatch")
    landing = str(base / "landing")
    e = read_events(spark, sf_dir)
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        landing, mode="overwrite"
    )
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        landing, mode="append"
    )
    target = str(base / "per_user")

    ev = jobs.stream_events(spark, landing, max_files_per_trigger=1)
    q = jobs.merge_stream_into_parquet(spark, ev, target)
    q.awaitTermination(120)

    # the rate limit forced a genuinely multi-batch replay
    n_batches = len(
        [f for f in os.listdir(target + "_chk/offsets") if not f.startswith(".")]
    )
    assert n_batches >= 2, f"expected >=2 micro-batches, got {n_batches}"

    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 2))
        for r in spark.read.parquet(target).collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["v"], 2))
        for r in read_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert got == want


def test_funnel_stream_matches_batch(spark, sf_dir, events_dir):
    """Streaming stateful funnel stage == batch conditional-min funnel
    over the same input, per user."""
    ev = jobs.stream_events(spark, events_dir)
    q = jobs.run_to_memory(
        jobs.funnel_stream(ev), "funnel_out", output_mode="update"
    )
    try:
        got = {
            r["user_id"]: r["stage"]
            for r in spark.sql("SELECT * FROM funnel_out").collect()
        }
        from mvp_mini_etl_pipeline_1762840347_spark.io import read_events

        e = read_events(spark, sf_dir)
        per_user = e.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("tv"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("tc"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
        )
        stage = (
            F.when(F.col("tv").isNull(), 0)
            .when(F.col("tc").isNull() | ~(F.col("tv") < F.col("tc")), 1)
            .when(F.col("tp").isNull() | ~(F.col("tc") < F.col("tp")), 2)
            .otherwise(3)
        )
        want = {
            r["user_id"]: r["stage"]
            for r in per_user.select("user_id", stage.alias("stage")).collect()
        }
        assert got == want
    finally:
        pass


def test_anomaly_stream_matches_batch(spark, sf_dir, events_dir):
    """Streaming Welford running-stats outlier counts == the batch
    expanding-window form over the same input."""
    ev = jobs.stream_events(spark, events_dir)
    q = jobs.run_to_memory(
        jobs.anomaly_stream(ev), "anomaly_out", output_mode="update"
    )
    got = {
        r["event_type"]: (r["n_events"], r["n_online_outliers"])
        for r in spark.sql("SELECT * FROM anomaly_out").collect()
    }
    want = {
        r["event_type"]: (r["n_events"], r["n_online_outliers"])
        for r in plans.QUERIES["events_anomaly_online"](spark, sf_dir).collect()
    }
    assert got == want


def test_sliding_stream_matches_batch(spark, sf_dir, events_dir):
    ev = jobs.stream_events(spark, events_dir)
    q = jobs.run_to_memory(
        jobs.sliding_counts_stream(ev), "sliding_out", output_mode="append"
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM sliding_out").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in plans.QUERIES["events_sliding"](spark, sf_dir).collect()
    }
    # append mode emits only watermark-closed windows; each emitted
    # window must match the batch result exactly, and most must emit
    assert got
    for k, v in got.items():
        assert batch[k] == v
    assert len(got) >= len(batch) - 4  # at most the tail windows open


# ---------------------------------------------------------------------------
# Streaming incremental LSH dedup
# ---------------------------------------------------------------------------
def test_row_band_signatures_match_grouped_form(spark, sf_dir):
    from mvp_mini_etl_pipeline_1762840347_spark.plans.dedup import (
        band_signatures,
        row_band_signatures,
    )
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    grouped = {tuple(r) for r in band_signatures(docs).collect()}
    per_row = {tuple(r) for r in row_band_signatures(docs).collect()}
    assert per_row == grouped


def _split_docs(spark, sf_dir, tmp_path_factory):
    """Old/new halves of documents landed as parquet dirs."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    base = tmp_path_factory.mktemp("docs_split")
    new_dir = str(base / "new_landing")
    new.write.parquet(new_dir)
    return old, new, new_dir, base


def test_lsh_candidates_stream_matches_batch_new_old(
    spark, sf_dir, tmp_path_factory
):
    from mvp_mini_etl_pipeline_1762840347_spark.plans.dedup import (
        band_signatures,
        incremental_lsh_candidates,
    )

    old, new, new_dir, _ = _split_docs(spark, sf_dir, tmp_path_factory)
    store = band_signatures(old)

    stream = jobs.stream_documents(spark, new_dir)
    q = jobs.run_to_memory(
        jobs.lsh_candidates_stream(stream, store), "lsh_cand_out"
    )
    try:
        got = {
            (r.doc_a, r.doc_b)
            for r in spark.sql(
                "SELECT DISTINCT doc_a, doc_b FROM lsh_cand_out"
            ).collect()
        }
    finally:
        q.stop()

    batch_pairs, _ = incremental_lsh_candidates(store, new)
    # stream-static covers new-old pairs only (odd/even doc_id split)
    want = {
        (r.doc_a, r.doc_b)
        for r in batch_pairs.collect()
        if (r.doc_a % 2 == 0) != (r.doc_b % 2 == 0)
    }
    assert got == want
    assert got, "no candidates emitted (degenerate fixture)"


def test_incremental_dedup_stream_full_parity(spark, sf_dir, tmp_path_factory):
    from mvp_mini_etl_pipeline_1762840347_spark.plans.dedup import (
        band_signatures,
        incremental_lsh_candidates,
    )

    old, new, new_dir, base = _split_docs(spark, sf_dir, tmp_path_factory)
    store_path = str(base / "sig_store")
    pairs_path = str(base / "pairs_out")
    band_signatures(old).write.parquet(store_path)

    q = jobs.incremental_dedup_stream(
        jobs.stream_documents(spark, new_dir),
        store_path,
        pairs_path,
        str(base / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in spark.read.parquet(pairs_path).collect()
    }
    batch_pairs, new_sigs = incremental_lsh_candidates(
        spark.read.parquet(store_path).limit(0).unionByName(band_signatures(old)),
        new,
    )
    want = {
        (r.doc_a, r.doc_b, r.n_shared_bands) for r in batch_pairs.collect()
    }
    assert got == want
    assert got, "no candidates emitted (degenerate fixture)"
    # the store grew by the new batch's signatures
    n_store = spark.read.parquet(store_path).count()
    assert n_store == band_signatures(old).count() + new_sigs.count()


def test_hourly_rollup_stream_composes_to_batch_daily(
    spark, sf_dir, tmp_path_factory
):
    """Continuous aggregate: the hourly table maintained incrementally
    across several micro-batches must re-aggregate to EXACTLY the
    batch two-level rollup's daily rows (algebraic partials compose
    regardless of batching)."""
    import os

    from mvp_mini_etl_pipeline_1762840347_spark.io import read_events

    base = tmp_path_factory.mktemp("rollup_stream")
    landing = str(base / "landing")
    e = read_events(spark, sf_dir)
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        landing, mode="overwrite"
    )
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        landing, mode="append"
    )
    hourly_path = str(base / "hourly")

    ev = jobs.stream_events(spark, landing, max_files_per_trigger=1)
    q = jobs.hourly_rollup_stream(spark, ev, hourly_path)
    q.awaitTermination(120)
    n_batches = len(
        [
            f
            for f in os.listdir(hourly_path + "_chk/offsets")
            if not f.startswith(".")
        ]
    )
    assert n_batches >= 2, n_batches

    got = {
        (r["day"], r["event_type"]): (
            r["n_events"],
            r["total_value"],
            r["avg_value"],
        )
        for r in jobs.daily_from_hourly(
            spark.read.parquet(hourly_path)
        ).collect()
    }
    want = {
        (r["day"], r["event_type"]): (
            r["n_events"],
            r["total_value"],
            r["avg_value"],
        )
        for r in plans.QUERIES["events_rollup_2level"](spark, sf_dir).collect()
    }
    assert got == want


def test_hourly_rollup_merge_step_replay_and_io_guards(
    spark, sf_dir, tmp_path_factory
):
    """The three hardening properties of the rollup merge, driven via
    the exposed step function: (1) a replayed batch_id is a no-op
    (foreachBatch is at-least-once; without the guard every replay
    double-counts), (2) a NEW batch_id still merges additively,
    (3) an unreadable-but-present hourly table ABORTS the batch
    instead of being treated as 'first batch' and resetting the
    accumulated rollup to one delta."""
    import os

    from mvp_mini_etl_pipeline_1762840347_spark.io import read_events

    base = tmp_path_factory.mktemp("rollup_replay")
    hourly_path = str(base / "hourly")
    e = read_events(spark, sf_dir).limit(200).cache()

    assert jobs.hourly_rollup_merge_step(spark, e, 0, hourly_path) is True
    first = {
        (r["hour"], r["event_type"]): (r["pc"], r["pv"])
        for r in spark.read.parquet(hourly_path).collect()
    }
    assert first

    # (1) replayed batch 0: exactly-once no-op, table unchanged
    assert jobs.hourly_rollup_merge_step(spark, e, 0, hourly_path) is False
    after = {
        (r["hour"], r["event_type"]): (r["pc"], r["pv"])
        for r in spark.read.parquet(hourly_path).collect()
    }
    assert after == first

    # (2) new batch id merges additively: counts double
    assert jobs.hourly_rollup_merge_step(spark, e, 1, hourly_path) is True
    doubled = {
        k: r for k, r in (
            ((row["hour"], row["event_type"]), (row["pc"], row["pv"]))
            for row in spark.read.parquet(hourly_path).collect()
        )
    }
    assert {k: v[0] for k, v in doubled.items()} == {
        k: 2 * v[0] for k, v in first.items()
    }

    # (3) a PRESENT but unreadable table must raise, not reset
    import pytest as _pytest

    corrupt = str(base / "corrupt")
    os.makedirs(corrupt)
    with open(os.path.join(corrupt, "part-00000.parquet"), "w") as f:
        f.write("not parquet")
    with _pytest.raises(Exception):
        jobs.hourly_rollup_merge_step(spark, e, 0, corrupt)
    # the garbage table was not overwritten by a one-delta reset
    with open(os.path.join(corrupt, "part-00000.parquet")) as f:
        assert f.read() == "not parquet"
    e.unpersist()


def test_decontaminate_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Streaming decontamination == the batch query over the same
    corpus, even when the corpus arrives across several micro-batches
    (per-doc stats are batching-independent)."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.plans.dedup import _EVAL_SOURCE

    docs = read_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("source") == _EVAL_SOURCE)
    train = docs.filter(F.col("source") != _EVAL_SOURCE)

    base = tmp_path_factory.mktemp("decon_stream")
    landing = str(base / "landing")
    train.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        landing, mode="overwrite"
    )
    train.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        landing, mode="append"
    )

    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(landing)
    )
    out = str(base / "flagged")
    q = jobs.decontaminate_stream(stream, eval_docs, out, str(base / "ckpt"))
    q.awaitTermination(120)

    cols = [
        "doc_id", "n_shingles", "n_overlap", "overlap_ratio", "is_contaminated"
    ]
    sink = spark.read.parquet(out)
    got = {tuple(r) for r in sink.select(*cols).collect()}
    want = {
        tuple(r)
        for r in plans.QUERIES["decontaminate_eval_overlap"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert got, "no contaminated docs flagged (degenerate fixture)"
    # the rate limit really produced several batch partitions, and a
    # crash-replay of a batch id overwrites rather than duplicates
    n_batches = sink.select("batch").distinct().count()
    assert n_batches >= 2, n_batches
    replay_id = sink.agg(F.max("batch")).collect()[0][0]
    some_doc = (
        sink.filter(F.col("batch") == replay_id).select("doc_id").first()[0]
    )
    replay_half = train.filter(
        F.col("doc_id") % 2 == some_doc % 2
    )  # the landing file that batch actually processed
    from mvp_mini_etl_pipeline_1762840347_spark.plans.dedup import (
        decontaminate_frame,
    )

    decontaminate_frame(replay_half, eval_docs).write.mode(
        "overwrite"
    ).parquet(f"{out}/batch={replay_id}")
    again = {
        tuple(r) for r in spark.read.parquet(out).select(*cols).collect()
    }
    assert again == want  # replayed batch overwrote, nothing duplicated


def test_view_click_join_stream_matches_batch(spark, sf_dir, events_dir):
    """Stream-stream interval join == the batch interval self-join
    (inner joins emit on match, so the full-input replay is exact)."""
    ev = jobs.stream_events(spark, events_dir)
    q = jobs.run_to_memory(
        jobs.view_click_join_stream(ev), "vc_join_out", output_mode="append"
    )
    try:
        got = sorted(
            (r["user_id"], r["view_id"], r["click_id"], r["delay_us"])
            for r in spark.sql("SELECT * FROM vc_join_out").collect()
        )
        want = sorted(
            (r["user_id"], r["view_id"], r["click_id"], r["delay_us"])
            for r in plans.QUERIES["events_view_click_pairs"](
                spark, sf_dir
            ).collect()
        )
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_snapshot_table_stream_merge_exactly_once(
    spark, sf_dir, events_dir, tmp_path_factory
):
    """Streaming merge into the transactional SnapshotTable: result
    equals the batch aggregate, commits are snapshot-isolated, and a
    RETRIED micro-batch (same batch_id) is an exactly-once no-op."""
    from mvp_mini_etl_pipeline_1762840347_spark.operators.table_format import (
        SnapshotTable,
    )

    root = str(tmp_path_factory.mktemp("snap_tbl") / "t")
    ev = jobs.stream_events(spark, events_dir)
    q = jobs.merge_stream_into_snapshot_table(spark, ev, root)
    q.awaitTermination(120)

    table = SnapshotTable(spark, root)
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 2))
        for r in table.read().collect()
    }
    want = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 2))
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert got == want

    # Retry semantics: re-applying the last committed batch_id must be
    # a no-op (no new snapshot, table content unchanged) -- the
    # foreachBatch crash-replay scenario.
    last = table.applied_batch()
    n_before = len(table.snapshots())
    replay = spark.read.parquet(f"{sf_dir}/events.parquet")
    applied = jobs.snapshot_merge_step(table, replay, last)
    assert applied is False
    assert len(table.snapshots()) == n_before

    # A NEW batch id (simulating the next micro-batch) must apply and
    # double every count via the additive merge.
    applied = jobs.snapshot_merge_step(table, replay, last + 1)
    assert applied is True
    doubled = {
        r["user_id"]: r["n_events"] for r in table.read().collect()
    }
    assert doubled == {u: 2 * n for u, (n, _) in want.items()}
    # time travel still sees the single-pass state
    v0 = {r["user_id"]: r["n_events"] for r in table.read_version(0).collect()}
    assert v0 == {u: n for u, (n, _) in want.items()}


def test_transform_with_state_running_totals(spark, sf_dir, events_dir):
    """The arbitrary-state running-totals operator == the same batch
    aggregate.  Runs UNCONDITIONALLY: the dispatch wrapper picks the
    transformWithState body when its protobuf runner is importable
    (covering the TWS path end-to-end there) and the semantically
    identical applyInPandasWithState body otherwise, so no container
    skips this parity pin."""
    ev = jobs.stream_events(spark, events_dir)
    q = jobs.run_to_memory(
        jobs.running_user_totals_arbitrary_state(ev),
        "totals_tws_out",
        output_mode="update",
    )
    try:
        rows = spark.sql(
            "SELECT user_id, max(n_events) n FROM totals_tws_out GROUP BY user_id"
        ).collect()
        assert rows
        batch_counts = {
            r["user_id"]: r["n"]
            for r in spark.read.parquet(f"{sf_dir}/events.parquet")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        got = {r["user_id"]: r["n"] for r in rows}
        assert got == batch_counts
    finally:
        q.stop()


def test_running_tokens_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """The streaming prefix-sum twin: documents landing across
    several micro-batches in corpus-append order must yield
    EXACTLY the one-shot batch running_corpus_tokens rows, and a
    replayed batch_id must be a no-op."""
    from mvp_mini_etl_pipeline_1762840347_spark import plans
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table

    base = tmp_path_factory.mktemp("running_tokens")
    out_path = str(base / "out")
    docs = read_table(spark, sf_dir, "documents")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]

    b0 = docs.filter(F.col("doc_id") <= cut)
    b1 = docs.filter(F.col("doc_id") > cut)
    assert jobs.running_tokens_step(spark, b0, 0, out_path) is True
    assert jobs.running_tokens_step(spark, b1, 1, out_path) is True
    # replays of both already-applied ids: no-ops
    assert jobs.running_tokens_step(spark, b0, 0, out_path) is False
    assert jobs.running_tokens_step(spark, b1, 1, out_path) is False

    got = {
        (r["doc_id"], r["source"], r["n_tokens"], r["running_total"])
        for r in spark.read.parquet(out_path + "/batch=*").collect()
    }
    want = {
        (r["doc_id"], r["source"], r["n_tokens"], r["running_total"])
        for r in plans.QUERIES["running_corpus_tokens"](
            spark, sf_dir
        ).collect()
    }
    assert got == want


def test_running_tokens_stream_end_to_end(spark, sf_dir, tmp_path_factory):
    """Same twin driven through an actual file-source stream."""
    from mvp_mini_etl_pipeline_1762840347_spark import plans
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table

    base = tmp_path_factory.mktemp("running_tokens_e2e")
    landing = str(base / "landing")
    out_path = str(base / "out")
    docs = read_table(spark, sf_dir, "documents")
    docs.coalesce(1).write.parquet(landing, mode="overwrite")

    stream = jobs.stream_documents(spark, landing)
    q = jobs.running_tokens_stream(spark, stream, out_path)
    q.awaitTermination(120)

    got = {
        (r["doc_id"], r["running_total"])
        for r in spark.read.parquet(out_path + "/batch=*").collect()
    }
    want = {
        (r["doc_id"], r["running_total"])
        for r in plans.QUERIES["running_corpus_tokens"](
            spark, sf_dir
        ).collect()
    }
    assert got == want


def test_hll_rollup_stream_matches_batch_registers(
    spark, sf_dir, tmp_path_factory
):
    """Streaming register rollup: merging per-micro-batch HLL states
    by register max must equal the one-shot batch register build
    (max associativity), with replays proven no-ops."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_events
    from mvp_mini_etl_pipeline_1762840347_spark.plans.sketches import (
        hll_registers,
    )

    base = tmp_path_factory.mktemp("hll_rollup")
    regs_path = str(base / "regs")
    e = read_events(spark, sf_dir).cache()

    b0 = e.filter(F.col("event_id") % 2 == 0)
    b1 = e.filter(F.col("event_id") % 2 == 1)
    assert jobs.hll_rollup_merge_step(spark, b0, 0, regs_path) is True
    assert jobs.hll_rollup_merge_step(spark, b0, 0, regs_path) is False  # replay
    assert jobs.hll_rollup_merge_step(spark, b1, 1, regs_path) is True

    got = {
        (r["event_type"], r["bucket"]): r["m_j"]
        for r in spark.read.parquet(regs_path).collect()
    }
    want = {
        (r["event_type"], r["bucket"]): r["m_j"]
        for r in hll_registers(e, "event_type", F.col("user_id")).collect()
    }
    assert got == want
    e.unpersist()


def test_hll_rollup_stream_end_to_end(spark, sf_dir, tmp_path_factory):
    """Same rollup driven through an actual file-source stream with
    forced multi-batch input."""
    import os

    from mvp_mini_etl_pipeline_1762840347_spark.io import read_events
    from mvp_mini_etl_pipeline_1762840347_spark.plans.sketches import (
        hll_registers,
    )

    base = tmp_path_factory.mktemp("hll_rollup_e2e")
    landing = str(base / "landing")
    regs_path = str(base / "regs")
    e = read_events(spark, sf_dir)
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        landing, mode="overwrite"
    )
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        landing, mode="append"
    )
    ev = jobs.stream_events(spark, landing, max_files_per_trigger=1)
    q = jobs.hll_rollup_stream(spark, ev, regs_path)
    q.awaitTermination(120)
    n_batches = len(
        [f for f in os.listdir(regs_path + "_chk/offsets") if not f.startswith(".")]
    )
    assert n_batches >= 2

    got = {
        (r["event_type"], r["bucket"]): r["m_j"]
        for r in spark.read.parquet(regs_path).collect()
    }
    want = {
        (r["event_type"], r["bucket"]): r["m_j"]
        for r in hll_registers(e, "event_type", F.col("user_id")).collect()
    }
    assert got == want


def test_scd2_stream_current_state_matches_batch(
    spark, sf_dir, tmp_path_factory
):
    """CDC stream applied in ts-ordered micro-batches: the dimension's
    CURRENT slice must equal the batch SCD2 build's open intervals
    (per-key final state), replays must be no-ops, and a crash between
    the swap renames must recover."""
    import os

    from mvp_mini_etl_pipeline_1762840347_spark.io import read_events

    base = tmp_path_factory.mktemp("scd2_dim")
    dim_path = str(base / "dim")
    e = read_events(spark, sf_dir).cache()
    b0 = e.filter(F.col("ts") < F.expr("timestamp'2024-01-15'"))
    b1 = e.filter(F.col("ts") >= F.expr("timestamp'2024-01-15'"))
    assert jobs.scd2_merge_step(spark, b0, 0, dim_path) is True
    assert jobs.scd2_merge_step(spark, b0, 0, dim_path) is False  # replay
    assert jobs.scd2_merge_step(spark, b1, 1, dim_path) is True

    cur = {
        r["user_id"]: r["state"]
        for r in spark.read.parquet(dim_path)
        .filter(F.col("is_current"))
        .select("user_id", F.col("event_type").alias("state"))
        .collect()
    }
    want = {
        r["user_id"]: r["state"]
        for r in plans.QUERIES["scd2_user_state"](spark, sf_dir)
        .filter(F.col("valid_to").isNull())
        .collect()
    }
    assert cur == want
    # interval sanity: exactly one open version per user, closed
    # versions carry valid_to >= valid_from
    dim = spark.read.parquet(dim_path)
    per_user_open = (
        dim.filter(F.col("is_current")).groupBy("user_id").count().collect()
    )
    assert all(r["count"] == 1 for r in per_user_open)
    assert (
        dim.filter(
            F.col("valid_to").isNotNull()
            & (F.col("valid_to") < F.col("valid_from"))
        ).count()
        == 0
    )

    # crash between the two swap renames: path gone, backup left
    from mvp_mini_etl_pipeline_1762840347_spark.operators.table_format import (
        _BACKUP,
    )

    os.rename(dim_path, dim_path + _BACKUP)
    assert jobs.scd2_merge_step(spark, b1, 2, dim_path) is True
    cur2 = {
        r["user_id"]: r["event_type"]
        for r in spark.read.parquet(dim_path)
        .filter(F.col("is_current"))
        .collect()
    }
    assert cur2 == cur  # recovery restored state; re-apply was clean
    e.unpersist()


def test_scd2_stream_end_to_end(spark, sf_dir, tmp_path_factory):
    """Dimension maintained through an actual multi-batch file stream
    equals the batch build's current state."""
    base = tmp_path_factory.mktemp("scd2_e2e")
    landing = str(base / "landing")
    dim_path = str(base / "dim")
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_events

    e = read_events(spark, sf_dir)
    e.filter(F.col("ts") < F.expr("timestamp'2024-01-15'")).coalesce(
        1
    ).write.parquet(landing, mode="overwrite")
    e.filter(F.col("ts") >= F.expr("timestamp'2024-01-15'")).coalesce(
        1
    ).write.parquet(landing, mode="append")
    ev = jobs.stream_events(spark, landing, max_files_per_trigger=1)
    q = jobs.scd2_stream(spark, ev, dim_path)
    q.awaitTermination(120)

    cur = {
        r["user_id"]: r["event_type"]
        for r in spark.read.parquet(dim_path)
        .filter(F.col("is_current"))
        .collect()
    }
    want = {
        r["user_id"]: r["state"]
        for r in plans.QUERIES["scd2_user_state"](spark, sf_dir)
        .filter(F.col("valid_to").isNull())
        .collect()
    }
    assert cur == want


def test_hygiene_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """The streaming hygiene gate is stateless, so its output over a
    landing set must equal the batch hygiene_frame over the same rows
    -- including nonzero PII detections (the landing fixture injects
    the deterministic dirty strings)."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.plans.scrub import (
        _dirty_col,
        hygiene_frame,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        _dirty_col().alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    landing = str(tmp_path_factory.mktemp("hygiene") / "landing")
    docs.write.parquet(landing)

    q = jobs.run_to_memory(
        jobs.hygiene_stream(jobs.stream_documents(spark, landing)),
        "hygiene_out",
    )
    try:
        got = {
            r.doc_id: (r.n_emails, r.n_phones, r.n_ips, r.score, r.admit)
            for r in spark.sql("SELECT * FROM hygiene_out").collect()
        }
    finally:
        q.stop()

    want = {
        r.doc_id: (r.n_emails, r.n_phones, r.n_ips, r.score, r.admit)
        for r in hygiene_frame(docs).collect()
    }
    assert got == want
    assert any(v[0] or v[1] or v[2] for v in got.values()), (
        "fixture injected no PII"
    )
    assert any(not v[4] for v in got.values()), "nothing rejected"
    assert any(v[4] for v in got.values()), "everything rejected"


def _stream_two_batches(spark, base, b0, b1, open_stream, start):
    """Land ``b0`` and ``b1`` as two files, replay them through the
    ``start(spark, stream, path)`` twin with availableNow, one file per
    micro-batch, and return the streamed state's path after checking
    both batches reached ``<path>_chk/offsets``."""
    import os

    landing = str(base / "landing")
    b0.coalesce(1).write.parquet(landing, mode="overwrite")
    b1.coalesce(1).write.parquet(landing, mode="append")
    path = str(base / "streamed")
    q = start(spark, open_stream(spark, landing, max_files_per_trigger=1), path)
    q.awaitTermination(120)
    offsets = path + "_chk/offsets"
    assert os.path.isdir(offsets)
    assert len([f for f in os.listdir(offsets) if not f.startswith(".")]) >= 2
    return path


def test_m4_stream_merged_state_matches_batch_and_rendered_form(
    spark, sf_dir, tmp_path_factory
):
    """Two-batch incremental M4 maintenance == one-shot state over
    all events (backfill == live), the merged state renders exactly
    events_m4_downsample's answer, a replayed batch is a no-op, and
    the m4_stream twin over the same two batches lands the same state."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_events
    from mvp_mini_etl_pipeline_1762840347_spark.plans import QUERIES

    base = tmp_path_factory.mktemp("m4")
    path = str(base / "state")
    ev = read_events(spark, sf_dir)
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    assert jobs.m4_merge_step(spark, b0, 0, path) is True
    assert jobs.m4_merge_step(spark, b0, 0, path) is False  # replay no-op
    assert jobs.m4_merge_step(spark, b1, 1, path) is True

    def state_map(df):
        return {
            str(r["bucket"]): (
                r["n_points"],
                round(r["v_min"], 4),
                round(r["v_max"], 4),
                round(r["v_first"], 4),
                round(r["v_last"], 4),
            )
            for r in df.collect()
        }

    merged = state_map(spark.read.parquet(path))
    oneshot = state_map(jobs.m4_state(ev))
    assert merged == oneshot
    streamed = _stream_two_batches(
        spark, base, b0, b1, jobs.stream_events, jobs.m4_stream
    )
    assert state_map(spark.read.parquet(streamed)) == merged
    rendered = {
        str(r["bucket"]): (
            r["n_points"], r["v_min"], r["v_max"], r["v_first"], r["v_last"]
        )
        for r in QUERIES["events_m4_downsample"](spark, sf_dir).collect()
    }
    assert merged == rendered


def test_bitmap_stream_merged_index_matches_oneshot_and_direct_counts(
    spark, sf_dir, tmp_path_factory
):
    """Two-batch incremental bitmap-index maintenance == one-shot
    build over all events (OR-merge is order-free), popcount of the
    merged AND equals the direct predicate count, a replayed batch is
    a no-op, and the bitmap_index_stream twin over the same two
    batches lands the same index."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_events

    base = tmp_path_factory.mktemp("bm")
    path = str(base / "index")
    ev = read_events(spark, sf_dir)
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    assert jobs.bitmap_merge_step(spark, b0, 0, path) is True
    assert jobs.bitmap_merge_step(spark, b0, 0, path) is False  # replay
    assert jobs.bitmap_merge_step(spark, b1, 1, path) is True

    def index_map(df):
        return {r["word"]: (r["bm_a"], r["bm_b"]) for r in df.collect()}

    merged = index_map(spark.read.parquet(path))
    oneshot = index_map(jobs.bitmap_state(ev))
    assert merged == oneshot
    streamed = _stream_two_batches(
        spark, base, b0, b1, jobs.stream_events, jobs.bitmap_index_stream
    )
    assert index_map(spark.read.parquet(streamed)) == merged

    n_and = (
        spark.read.parquet(path)
        .agg(
            F.sum(
                F.bit_count(F.col("bm_a").bitwiseAND(F.col("bm_b")))
            ).alias("n")
        )
        .first()["n"]
    )
    direct = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 100.0)
    ).count()
    assert n_and == direct


def test_auc_stream_merged_state_renders_batch_scorecard(
    spark, sf_dir, tmp_path_factory
):
    """Two-batch incremental AUC maintenance == the batch
    classifier_auc scorecard (additive marginals make the rank metric
    incrementally maintainable), a replayed batch is a no-op, and the
    auc_stream twin over the same two batches lands the same state."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.plans import QUERIES

    base = tmp_path_factory.mktemp("auc")
    path = str(base / "state")
    d = read_table(spark, sf_dir, "documents")
    b0 = d.filter(F.col("doc_id") % 2 == 0)
    b1 = d.filter(F.col("doc_id") % 2 == 1)
    assert jobs.auc_merge_step(spark, b0, 0, path) is True
    assert jobs.auc_merge_step(spark, b0, 0, path) is False  # replay
    assert jobs.auc_merge_step(spark, b1, 1, path) is True

    got = jobs.auc_render(spark.read.parquet(path)).first()
    want = QUERIES["classifier_auc"](spark, sf_dir).first()
    assert got["auc"] == want["auc"]
    assert got["n_pos"] == want["n_pos"]
    assert got["n_neg"] == want["n_neg"]

    def state_map(df):
        return {r["score"]: (r["p"], r["q"]) for r in df.collect()}

    streamed = _stream_two_batches(
        spark, base, b0, b1, jobs.stream_documents, jobs.auc_stream
    )
    assert state_map(spark.read.parquet(streamed)) == state_map(
        spark.read.parquet(path)
    )


def test_dead_letter_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """The streaming quarantine gate is stateless, so its routed
    output over a landing set must equal the batch dead_letter_frame
    over the same rows -- including a nonzero quarantined slice (the
    deterministic corrupt feed guarantees one)."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_events
    from mvp_mini_etl_pipeline_1762840347_spark.plans.events import (
        dead_letter_frame,
    )

    ev = read_events(spark, sf_dir)
    landing = str(tmp_path_factory.mktemp("deadletter") / "landing")
    ev.write.parquet(landing)

    q = jobs.run_to_memory(
        jobs.dead_letter_stream(jobs.stream_events(spark, landing)),
        "dead_letter_out",
    )
    try:
        got = {
            r.event_id: (r.event_type, r.quarantined, r.k)
            for r in spark.sql("SELECT * FROM dead_letter_out").collect()
        }
    finally:
        q.stop()

    want = {
        r.event_id: (r.event_type, r.quarantined, r.k)
        for r in dead_letter_frame(ev).collect()
    }
    assert got == want
    assert any(v[1] for v in got.values()), "nothing quarantined"
    assert any(not v[1] for v in got.values()), "everything quarantined"


def test_psi_drift_stream_matches_batch_state(spark, sf_dir, tmp_path_factory):
    """The streaming PSI count state maintained across several
    micro-batches must equal the batch drift_counts_frame over all
    rows (additive states compose regardless of batching), the
    readout must match, and a replayed batch id must be a no-op."""
    import os

    from mvp_mini_etl_pipeline_1762840347_spark.io import read_events
    from mvp_mini_etl_pipeline_1762840347_spark.plans.analytics import (
        _EPSI_BINS,
        drift_counts_frame,
        psi_readout,
    )

    base = tmp_path_factory.mktemp("psi_stream")
    landing = str(base / "landing")
    e = read_events(spark, sf_dir)
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        landing, mode="overwrite"
    )
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        landing, mode="append"
    )
    counts_path = str(base / "counts")

    ev = jobs.stream_events(spark, landing, max_files_per_trigger=1)
    q = jobs.psi_drift_stream(spark, ev, counts_path)
    q.awaitTermination(120)
    n_batches = len(
        [
            f
            for f in os.listdir(counts_path + "_chk/offsets")
            if not f.startswith(".")
        ]
    )
    assert n_batches >= 2, n_batches

    state = spark.read.parquet(counts_path)
    got = {r.bin: (r.n_a, r.n_b) for r in state.collect()}
    want = {
        r.bin: (r.n_a, r.n_b) for r in drift_counts_frame(e).collect()
    }
    assert got == want

    got_psi = {
        r.bin: r.psi_contrib
        for r in psi_readout(
            state.select("bin", "n_a", "n_b"), _EPSI_BINS
        ).collect()
    }
    want_psi = {
        r.bin: r.psi_contrib
        for r in psi_readout(drift_counts_frame(e), _EPSI_BINS).collect()
    }
    assert got_psi == want_psi

    # replaying the last committed batch id must not change the state
    last_id = n_batches - 1
    assert not jobs.psi_drift_merge_step(
        spark, e.limit(50), last_id, counts_path
    )
    again = {
        r.bin: (r.n_a, r.n_b)
        for r in spark.read.parquet(counts_path).collect()
    }
    assert again == got


# ---------------------------------------------------------------------------
# Streaming span rewrite (incremental first-occurrence store)
# ---------------------------------------------------------------------------
def test_span_rewrite_stream_full_parity(spark, sf_dir, tmp_path_factory):
    """Cumulative streamed ledgers == the batch rewrite restricted to
    the streamed docs, when micro-batches follow occurrence order:
    the persisted first-occurrence store makes incremental span
    removal equal the from-scratch rewrite."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.plans.dedup import (
        dedup_span_rewrite,
        span_firsts,
        span_frame,
    )

    docs = read_table(spark, sf_dir, "documents")
    cut1 = 150
    cut2 = 300
    old = docs.filter(F.col("doc_id") < cut1)
    mid = docs.filter((F.col("doc_id") >= cut1) & (F.col("doc_id") < cut2))
    new = docs.filter(F.col("doc_id") >= cut2)

    base = tmp_path_factory.mktemp("span_stream")
    store_path = str(base / "span_store")
    ledger_path = str(base / "ledger_out")
    landing = str(base / "landing")
    span_firsts(span_frame(old)).write.parquet(store_path)
    # two landing files written in occurrence order -> two micro-batches
    mid.coalesce(1).write.mode("overwrite").parquet(landing)
    new.coalesce(1).write.mode("append").parquet(landing)

    q = jobs.span_rewrite_stream(
        jobs.stream_documents(spark, landing, max_files_per_trigger=1),
        store_path,
        ledger_path,
        str(base / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        (r.doc_id, r.n_spans, r.n_kept, r.tokens_kept, r.tokens_dropped)
        for r in spark.read.parquet(ledger_path).collect()
    }
    want = {
        (r.doc_id, r.n_spans, r.n_kept, r.tokens_kept, r.tokens_dropped)
        for r in dedup_span_rewrite(spark, sf_dir).collect()
        if r.doc_id >= cut1
    }
    assert got == want
    assert got, "no ledgers emitted (degenerate fixture)"
    # the store holds one row per distinct full span seen so far
    store = spark.read.parquet(store_path)
    assert store.count() == store.select("span").distinct().count()


# ---------------------------------------------------------------------------
# Streaming two-sample KS drift (additive per-value count state)
# ---------------------------------------------------------------------------
def test_ks_drift_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """The KS readout over the incrementally merged count state equals
    the batch query over the same documents, regardless of batching
    (additive state), and a replayed batch id is a no-op."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.plans.analytics import (
        drift_ks_two_sample,
        ks_readout,
    )

    docs = read_table(spark, sf_dir, "documents")
    base = tmp_path_factory.mktemp("ks_stream")
    landing = str(base / "landing")
    counts_path = str(base / "counts")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(landing)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    q = jobs.ks_drift_stream(
        spark,
        jobs.stream_documents(spark, landing, max_files_per_trigger=1),
        counts_path,
    )
    q.awaitTermination(120)

    state = spark.read.parquet(counts_path)
    got = ks_readout(state).collect()[0]
    want = drift_ks_two_sample(spark, sf_dir).collect()[0]
    assert tuple(got) == tuple(want)

    # replayed batch id (high-water mark) must be a no-op
    replay_docs = docs.filter(F.col("doc_id") % 2 == 0)
    assert jobs.ks_drift_merge_step(spark, replay_docs, 0, counts_path) is False
    assert tuple(ks_readout(spark.read.parquet(counts_path)).collect()[0]) == tuple(want)


def test_zset_mv_stream_matches_batch_query(spark, sf_dir, tmp_path_factory):
    """The streaming Z-set merge over a changelog equivalent to the
    batch query's staging (base inserts, post-cut inserts, then the
    cancellation retractions) must render the exact mv_retraction_agg
    result -- the DBSP add-deltas-equals-recompute property end to
    end, across genuinely separate micro-batches."""
    import __spark_entry__ as entrymod

    base = tmp_path_factory.mktemp("zset_mv")
    deltas_dir = str(base / "deltas")
    mv_path = str(base / "mv")

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cut = F.lit("1998-01-01").cast("date")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    pre = o.filter(F.col("o_orderdate") < cut)
    feed = [
        pre.select(
            F.col("o_orderpriority").alias("priority"),
            F.lit(1).alias("w"),
            cents.alias("cents"),
        ),
        o.filter(F.col("o_orderdate") >= cut).select(
            F.col("o_orderpriority").alias("priority"),
            F.lit(1).alias("w"),
            cents.alias("cents"),
        ),
        pre.filter(F.col("o_orderkey") % 10 == 3).select(
            F.col("o_orderpriority").alias("priority"),
            F.lit(-1).alias("w"),
            cents.alias("cents"),
        ),
    ]
    for i, df in enumerate(feed):
        df.select(
            "priority", F.col("w").cast("int"), F.col("cents").cast("long")
        ).coalesce(1).write.parquet(f"{deltas_dir}/seq={i}")

    q = jobs.zset_mv_stream(
        spark,
        jobs.stream_weighted_deltas(spark, deltas_dir + "/seq=*",
                                    max_files_per_trigger=1),
        mv_path,
    )
    q.awaitTermination(120)

    got = {
        r.priority: (r.n_live, r.revenue_cents, r.inserted_rows,
                     r.retracted_rows)
        for r in jobs.zset_mv_render(
            spark.read.parquet(mv_path)
        ).collect()
    }
    want = {
        r.priority: (r.n_live, r.revenue_cents, r.inserted_rows,
                     r.retracted_rows)
        for r in entrymod.queries()["mv_retraction_agg"](
            spark, sf_dir
        ).collect()
    }
    base_n = {
        r.priority: r.n
        for r in pre.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for p in want:
        wn, ws, wi, wr = want[p]
        gn, gs, gi, gr = got[p]
        # maintained multiplicities/sums/retractions identical; the
        # stream's insert counter additionally covers the base load the
        # batch query holds as a pre-existing MV
        assert (gn, gs, gr) == (wn, ws, wr)
        assert gi == wi + base_n[p]
    assert got, "degenerate fixture: no groups"


def test_zset_mv_merge_step_replay_and_revival(spark, tmp_path_factory):
    """Replayed batch ids are no-ops; a group retracted to zero leaves
    the rendered view but revives with fresh counters intact when new
    inserts arrive."""
    base = tmp_path_factory.mktemp("zset_step")
    mv = str(base / "mv")
    b0 = spark.createDataFrame(
        [("A", 1, 100), ("A", 1, 50), ("B", 1, 10)],
        ["priority", "w", "cents"],
    )
    assert jobs.zset_mv_merge_step(spark, b0, 0, mv)
    # retract everything in A
    b1 = spark.createDataFrame(
        [("A", -1, 100), ("A", -1, 50)], ["priority", "w", "cents"]
    )
    assert jobs.zset_mv_merge_step(spark, b1, 1, mv)
    assert not jobs.zset_mv_merge_step(spark, b1, 1, mv)  # replay no-op
    rendered = {
        r.priority for r in jobs.zset_mv_render(
            spark.read.parquet(mv)
        ).collect()
    }
    assert rendered == {"B"}  # A vanished from the readout
    # state keeps A's audit counters for revival
    a = [r for r in spark.read.parquet(mv).collect() if r.priority == "A"][0]
    assert (a.n_live, a.revenue_cents) == (0, 0)
    assert (a.inserted_rows, a.retracted_rows) == (2, 2)
    b2 = spark.createDataFrame([("A", 1, 7)], ["priority", "w", "cents"])
    assert jobs.zset_mv_merge_step(spark, b2, 2, mv)
    a2 = [
        r for r in jobs.zset_mv_render(spark.read.parquet(mv)).collect()
        if r.priority == "A"
    ][0]
    assert (a2.n_live, a2.revenue_cents, a2.inserted_rows,
            a2.retracted_rows) == (1, 7, 3, 2)


def test_waterfill_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """The streamed per-source token census must equal the batch
    census over all rows regardless of batching, the rendered recipe
    must match the batch mixture_waterfill solve, and a replayed
    batch id must be a no-op."""
    import os

    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.plans.quality import (
        source_tokens_frame,
        waterfill_solve,
    )

    base = tmp_path_factory.mktemp("waterfill_stream")
    landing = str(base / "landing")
    d = read_table(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        landing, mode="overwrite"
    )
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        landing, mode="append"
    )
    state_path = str(base / "census")

    docs = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = jobs.waterfill_stream(spark, docs, state_path)
    q.awaitTermination(120)
    n_batches = len(
        [
            f
            for f in os.listdir(state_path + "_chk/offsets")
            if not f.startswith(".")
        ]
    )
    assert n_batches >= 2, n_batches

    state = spark.read.parquet(state_path)
    got = {r.source: r.avail for r in state.collect()}
    want = {r.source: r.avail for r in source_tokens_frame(d).collect()}
    assert got == want

    got_mix = {
        r.source: (r.saturated, r.allocated_tokens, r.water_level)
        for r in jobs.waterfill_render(state).collect()
    }
    want_mix = {
        r.source: (r.saturated, r.allocated_tokens, r.water_level)
        for r in waterfill_solve(source_tokens_frame(d)).collect()
    }
    assert got_mix == want_mix

    # replaying the last committed batch id must not change the state
    last_id = n_batches - 1
    assert not jobs.waterfill_merge_step(
        spark, d.limit(50), last_id, state_path
    )


def test_fingerprint_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """The streamed fingerprint over several micro-batches must equal
    the batch fingerprint of all rows (commutative reductions merge
    exactly), and a replayed batch id must be a no-op -- the replay
    guard is load-bearing because the merge is additive."""
    import os

    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.plans.warehouse import (
        fingerprint_frame,
    )
    from mvp_mini_etl_pipeline_1762840347_spark.streaming.jobs import (
        _FPS_COLS,
    )

    base = tmp_path_factory.mktemp("fp_stream")
    landing = str(base / "landing")
    d = read_table(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        landing, mode="overwrite"
    )
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        landing, mode="append"
    )
    state_path = str(base / "fp")

    docs = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = jobs.fingerprint_stream(spark, docs, state_path)
    q.awaitTermination(120)
    n_batches = len(
        [
            f
            for f in os.listdir(state_path + "_chk/offsets")
            if not f.startswith(".")
        ]
    )
    assert n_batches >= 2, n_batches

    got = spark.read.parquet(state_path).first()
    want = fingerprint_frame(d, _FPS_COLS).first()
    assert (got.n_rows, got.sum_fp, got.xor_fp) == (
        want.n_rows,
        want.sum_fp,
        want.xor_fp,
    )
    # replay: additive merge MUST be rejected by the high-water mark
    before = (got.n_rows, got.sum_fp, got.xor_fp)
    assert not jobs.fingerprint_merge_step(
        spark, d.limit(10), n_batches - 1, state_path
    )
    after = spark.read.parquet(state_path).first()
    assert (after.n_rows, after.sum_fp, after.xor_fp) == before


# ---------------------------------------------------------------------------
# Streaming SpaceSaving summary (mergeable heavy-hitter state)
# ---------------------------------------------------------------------------
def test_spacesaving_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """The incrementally merged summary equals the batch query's
    shard-merged summary when each micro-batch is one shard (the
    algebra is order-free per-item addition), the accumulated bracket
    still contains every exact count, and a replayed batch id is a
    no-op."""
    from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
    from mvp_mini_etl_pipeline_1762840347_spark.plans.sketches import (
        _MG_SHARDS,
        mg_shard_compress,
    )

    docs = read_table(spark, sf_dir, "documents")
    base = tmp_path_factory.mktemp("spacesaving_stream")
    landing = str(base / "landing")
    summary_path = str(base / "summary")
    err_path = str(base / "errs")
    for shard in range(_MG_SHARDS):
        docs.filter(F.col("doc_id") % _MG_SHARDS == shard).coalesce(
            1
        ).write.mode("append").parquet(landing)

    q = jobs.spacesaving_stream(
        jobs.stream_documents(spark, landing, max_files_per_trigger=1),
        summary_path,
        err_path,
        str(base / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r["item"]: r["cc"]
        for r in spark.read.parquet(summary_path).collect()
    }
    toks = docs.select(
        (F.col("doc_id") % _MG_SHARDS).alias("shard"),
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("item"),
    )
    kept, err = mg_shard_compress(
        toks.groupBy("shard", "item").agg(F.count("*").alias("c"))
    )
    want = {
        r["item"]: r["cc"]
        for r in kept.groupBy("item")
        .agg(F.sum("cc").alias("cc"))
        .collect()
    }
    assert got == want and len(got) > 0

    # bracket still valid over the streamed state
    te = spark.read.parquet(err_path).agg(F.sum("e")).first()[0]
    exact = {
        r["item"]: r["n"]
        for r in toks.groupBy("item").agg(F.count("*").alias("n")).collect()
    }
    for item, cc in got.items():
        assert cc <= exact[item] <= cc + te, (item, cc, exact[item], te)

    # replayed batch id: exactly-once no-op on both tables
    n_sum = spark.read.parquet(summary_path).count()
    n_err = spark.read.parquet(err_path).count()
    last_batch = _MG_SHARDS - 1
    replay = docs.filter(F.col("doc_id") % _MG_SHARDS == last_batch)
    assert (
        jobs.spacesaving_merge_step(
            spark, replay, last_batch, summary_path, err_path
        )
        is False
    )
    assert spark.read.parquet(summary_path).count() == n_sum
    assert spark.read.parquet(err_path).count() == n_err
