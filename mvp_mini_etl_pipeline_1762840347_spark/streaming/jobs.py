"""Structured Streaming versions of the event operators (SURVEY §2.8).

The reference only simulates streaming (timer-driven stage pills,
pages/index.js:45-78); the real engine runs the same event-time
semantics as Structured Streaming jobs: watermarked tumbling windows,
gap sessionization, stateful dedup, and a custom stateful operator via
applyInPandasWithState.

Batch/stream parity: the window expressions here are the same ones the
batch queries in plans/events.py use, so a batch backfill and the
stream agree -- the property that matters when reprocessing 100 TB of
history next to a live topic.  Local tests drive these with a
file-source stream over the driver's events parquet + a memory sink
(`run_to_memory`), which processes all available input synchronously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

# Fallback stream schema for TIMESTAMP(NANOS) landing files, which
# Spark's vectorized reader only surfaces as raw longs (see
# plans/events.py / io.read_events for the batch-side twin).
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos-as-long
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """File-source stream over a directory of events parquet files --
    the landing-zone shape (stand-in for a Kafka topic; swap
    `.format("kafka")` + from_json at deploy).  New files appearing in
    the directory become new micro-batches;
    ``max_files_per_trigger`` caps files per micro-batch (rate limit;
    also how tests force a genuinely multi-batch replay).

    The landing files may store `ts` either as parquet TIMESTAMP
    (micros) or as INT64 TIMESTAMP(NANOS) (which Spark reads as raw
    longs under nanosAsLong); a file stream needs a declared schema,
    so probe the directory's current footer with a batch read and
    declare whichever physical type is really there -- identical
    normalization to io.read_events, so batch backfill and the stream
    agree on event time.  A declared-schema stream can never
    self-correct, so when the directory has nothing to probe yet
    (empty landing dir at deploy start) the caller MUST state the
    producer's layout via ``schema`` (EVENTS_RAW_SCHEMA for nanos
    landing files) -- guessing here would silently reintroduce the
    1970-timestamps bug the probe exists to prevent."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is not None:
        probe = schema
    else:
        try:
            probe = spark.read.parquet(events_dir).schema
        except Exception as exc:
            raise ValueError(
                f"cannot probe the ts layout of {events_dir!r} (no parquet"
                " footer yet?): pass schema= explicitly, e.g."
                " EVENTS_RAW_SCHEMA for nanos-as-long landing files"
            ) from exc
    reader = spark.readStream.schema(probe).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(events_dir)
    if isinstance(probe["ts"].dataType, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked hourly tumbling counts per event type -- the
    streaming twin of plans/events.events_tumbling.  Late events
    beyond the watermark are dropped; state is bounded by
    (#open windows x #types)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def session_counts_stream(events: DataFrame, gap: str = "1 hour") -> DataFrame:
    """Watermarked gap sessionization -- streaming twin of
    plans/events.events_session (same session_window expression)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup on (user_id, event_type) within the watermark
    horizon -- bounded-state streaming analog of
    plans/events.events_dedup_first."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count + value total maintained as explicit
    GroupState (the escape hatch for operators Spark's built-in
    streaming aggregates can't express)."""
    import pandas as pd  # local import: only needed when the op runs
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append") -> StreamingQuery:
    """Drive a streaming DataFrame through all available input into an
    in-memory table (local test harness; production sinks are
    kafka/parquet/foreachBatch)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    return q


def _drive(stream: DataFrame, checkpoint: str, step) -> StreamingQuery:
    """Start ``step(batch_df, batch_id)`` as a foreachBatch sink over
    all input available now (``availableNow`` trigger), with offsets and
    commits kept under ``checkpoint`` -- the one starter every ``*_stream``
    twin below returns.  Stateful twins pass ``<state path>_chk`` as the
    checkpoint; the explicit ``checkpoint_dir`` twins pass theirs.

    ``step`` must resolve its merge step by module name when a batch
    arrives (a closure or lambda calling ``hourly_rollup_merge_step``,
    not the function object bound at start): perfbench/tracing.py swaps
    ``hourly_rollup_merge_step`` and ``snapshot_merge_step`` on this
    module to count ``streaming.batches``."""
    return (
        stream.writeStream.foreachBatch(step)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def merge_stream_into_parquet(
    spark: SparkSession, events: DataFrame, target_path: str
) -> StreamingQuery:
    """Incremental load: every micro-batch's per-user aggregates are
    MERGED (added) into a parquet target via foreachBatch -- the
    streaming side of the warehouse's incremental-maintenance story
    (operators/scale.py::merge_upsert covers replace-merge; this is
    the additive variant running totals need).

    foreachBatch gives exactly-once-per-batch batch semantics inside a
    stream: the merge join + overwrite is ordinary batch code routed
    through exactly_once_table_merge (replay guard, explicit
    missing-path check so IO errors abort instead of resetting the
    totals, staged-swap so the overwrite never races its own read).
    At deploy scale the target is a transactional table format; plain
    parquet here keeps the harness dependency-free."""

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        def _merge(target: DataFrame | None) -> DataFrame:
            delta = batch_df.groupBy("user_id").agg(
                F.count("*").alias("n_events"),
                F.sum("value").alias("total_value"),
            )
            if target is None:
                return delta
            t = target.select(
                F.col("user_id").alias("t_user"),
                F.col("n_events").alias("t_n"),
                F.col("total_value").alias("t_v"),
            )
            return (
                delta.join(t, delta.user_id == t.t_user, "full_outer")
                .select(
                    F.coalesce(delta.user_id, t.t_user).alias("user_id"),
                    (
                        F.coalesce(delta.n_events, F.lit(0))
                        + F.coalesce(t.t_n, F.lit(0))
                    ).alias("n_events"),
                    (
                        F.coalesce(delta.total_value, F.lit(0.0))
                        + F.coalesce(t.t_v, F.lit(0.0))
                    ).alias("total_value"),
                )
            )

        exactly_once_table_merge(spark, target_path, batch_id, _merge)

    return _drive(events, target_path + "_chk", _step)


def funnel_stream(events: DataFrame) -> DataFrame:
    """Stateful streaming funnel: per-user first-seen timestamps of
    view/click/purchase maintained as GroupState; each update emits
    the user's current funnel stage (0-3, counting steps completed IN
    ORDER).  The streaming twin of plans/events.events_funnel -- same
    three-valued step gating, state is three micro-timestamps per
    user regardless of event volume."""
    import pandas as pd  # local import: only needed when the op runs
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, t_view long, t_click long, t_purchase long, stage int"
    )
    state_schema = "tv long, tc long, tp long"
    _NONE = -1

    def _min(a: int, b: int) -> int:
        if a == _NONE:
            return b
        if b == _NONE:
            return a
        return min(a, b)

    def fn(key, pdfs, state: GroupState):
        tv, tc, tp = state.get if state.exists else (_NONE, _NONE, _NONE)
        for pdf in pdfs:
            micros = pdf["ts"].astype("int64") // 1000
            for step, col in (("view", "tv"), ("click", "tc"), ("purchase", "tp")):
                sel = micros[pdf["event_type"] == step]
                if len(sel):
                    first = int(sel.min())
                    if col == "tv":
                        tv = _min(tv, first)
                    elif col == "tc":
                        tc = _min(tc, first)
                    else:
                        tp = _min(tp, first)
        state.update((tv, tc, tp))
        stage = 0
        if tv != _NONE:
            stage = 1
            if tc != _NONE and tv < tc:
                stage = 2
                if tp != _NONE and tc < tp:
                    stage = 3
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "t_view": [tv],
                "t_click": [tc],
                "t_purchase": [tp],
                "stage": [stage],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def anomaly_stream(events: DataFrame) -> DataFrame:
    """Online z-score anomaly detector: per event type, running
    count/mean/M2 (Welford) maintained as GroupState; each update
    emits cumulative totals of events seen and outliers flagged
    (|z| > 3 against the stats BEFORE the event, 30-event warmup).
    Streaming twin of plans/events.events_anomaly_online -- rows are
    scored in (ts, event_id) order inside each batch so a single-batch
    replay exactly matches the batch window form."""
    import math

    import pandas as pd  # local import: only needed when the op runs
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "event_type string, n_events long, n_online_outliers long"
    state_schema = "n long, mean double, m2 double, outliers long"

    def fn(key, pdfs, state: GroupState):
        n, mean, m2, outliers = (
            state.get if state.exists else (0, 0.0, 0.0, 0)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        for v in rows["value"].astype(float):
            if n >= 30:
                sigma = math.sqrt(m2 / (n - 1))
                if sigma > 0 and abs((v - mean) / sigma) > 3:
                    outliers += 1
            n += 1
            delta = v - mean
            mean += delta / n
            m2 += delta * (v - mean)
        state.update((n, mean, m2, outliers))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": [n],
                "n_online_outliers": [outliers],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked sliding windows (1 h window, 30 min slide), the
    streaming twin of plans/events.events_sliding -- same window
    expression, so backfill and live agree; each event contributes to
    exactly two windows and state is bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Streaming incremental LSH dedup (stream-static join + foreachBatch store)
# ---------------------------------------------------------------------------
DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(
    spark: SparkSession,
    docs_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory of documents
    parquet -- the daily-ingest shape for the dedup pipeline.
    ``max_files_per_trigger`` caps files per micro-batch (how tests
    force a genuinely multi-batch replay)."""
    reader = spark.readStream.schema(DOCS_RAW_SCHEMA).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(docs_dir)


def lsh_candidates_stream(
    new_docs: DataFrame, store_sigs: DataFrame
) -> DataFrame:
    """Streaming near-dup candidates: per-row band signatures on the
    stream (row_band_signatures -- array folds only, NO stateful
    aggregation) equi-joined stream-static against the persisted
    signature store.  Stateless, append mode, no watermark: every
    arriving doc emits its (new, store) candidate pairs immediately.

    New-new pairs (both docs inside the live stream) are intentionally
    out of scope here -- a stream self-join needs watermark state; the
    foreachBatch form below reuses the batch operator per micro-batch
    and covers them by appending each batch's signatures to the store
    before the next batch joins."""
    from ..plans.dedup import row_band_signatures

    n = row_band_signatures(new_docs).alias("n")
    s = store_sigs.alias("s")
    return (
        n.join(
            s,
            (F.col("n.band") == F.col("s.band"))
            & (F.col("n.sig") == F.col("s.sig"))
            & (F.col("n.doc_id") != F.col("s.doc_id")),
        )
        .select(
            F.least(F.col("n.doc_id"), F.col("s.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("s.doc_id")).alias("doc_b"),
            F.col("n.band").alias("band"),
        )
        .dropDuplicates(["doc_a", "doc_b", "band"])
    )


def incremental_dedup_stream(
    docs_stream: DataFrame,
    store_path: str,
    pairs_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Full-parity streaming incremental dedup via foreachBatch: each
    micro-batch runs the BATCH incremental_lsh_candidates against the
    parquet signature store (new-old AND new-new pairs), appends the
    batch's candidate pairs, then appends its signatures to the store
    so the next micro-batch dedups against it.  Exactly the daily-
    ingest batch pipeline, driven by the stream scheduler -- batch
    backfill and live processing share one code path.  At deploy the
    store is a bucketed (band, sig) table (SCALE.md) or a Delta table
    via SnapshotTable semantics.

    Exactly-once: both the pairs and the store updates go through
    exactly_once_table_merge (batch-id replay guard + staged swap), so
    a crashed-then-replayed micro-batch cannot duplicate pairs or
    signatures.  A crash BETWEEN the two merges is safe: the replay
    recomputes from the still-unchanged pre-batch store, no-ops the
    already-committed table, and applies the identical delta to the
    other."""
    from ..plans.dedup import incremental_lsh_candidates

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        store = spark.read.parquet(store_path)
        pairs, new_sigs = incremental_lsh_candidates(store, batch_df)
        exactly_once_table_merge(
            spark, pairs_path, batch_id,
            lambda t: pairs if t is None else t.unionByName(pairs),
        )
        exactly_once_table_merge(
            spark, store_path, batch_id,
            lambda t: new_sigs if t is None else t.unionByName(new_sigs),
        )

    return _drive(docs_stream, checkpoint_dir, _step)


def span_rewrite_stream(
    docs_stream: DataFrame,
    store_path: str,
    ledger_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming twin of ``dedup_span_rewrite``: incremental
    exact-substring span removal against a persisted first-occurrence
    store.  Each micro-batch (a) chunks its documents into spans with
    the SAME batch core (``plans/dedup.py::span_frame``), (b) decides
    kept/dropped against min(persisted store, this batch) -- so
    intra-batch duplicates resolve by occurrence key and spans already
    claimed by an earlier batch always lose, (c) appends the batch's
    per-document ledger, and (d) appends its own first-occurrence rows
    to the store for the next batch.  When micro-batch arrival order
    follows the corpus's occurrence order (the daily-ingest case),
    the cumulative ledger is EXACTLY the batch query's -- parity
    pinned in tests/test_streaming.py.

    Scale: store lookups and appends are span-keyed -- at deploy the
    store is a bucketed-by-span table (or SnapshotTable for the
    atomic-commit discipline of exactly_once_table_merge); the store
    grows only by genuinely novel spans, so a boilerplate-heavy
    stream appends little.

    Exactly-once: ledger and store updates both route through
    exactly_once_table_merge (batch-id replay guard + staged swap)
    like the module's other stateful twins, so a replayed micro-batch
    cannot duplicate ledger rows or store spans.  A crash BETWEEN the
    two merges is safe: the replay recomputes from the still-unchanged
    pre-batch store, no-ops the already-committed table, and applies
    the identical delta to the other."""
    from ..plans.dedup import span_firsts, span_frame, span_ledger

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        store = spark.read.parquet(store_path)
        spans = span_frame(batch_df)
        batch_firsts = span_firsts(spans)
        combined = (
            store.unionByName(batch_firsts)
            .groupBy("span")
            .agg(F.min("first_key").alias("first_key"))
        )
        ledger = span_ledger(spans, combined)
        exactly_once_table_merge(
            spark, ledger_path, batch_id,
            lambda t: ledger if t is None else t.unionByName(ledger),
        )
        novel = batch_firsts.join(store, "span", "left_anti")
        exactly_once_table_merge(
            spark, store_path, batch_id,
            lambda t: novel if t is None else t.unionByName(novel),
        )

    return _drive(docs_stream, checkpoint_dir, _step)


def hourly_rollup_stream(
    spark: SparkSession, events: DataFrame, hourly_path: str
) -> StreamingQuery:
    """Continuous-aggregate maintenance, streaming side: every
    micro-batch's (hour, event_type) partials are additively MERGED
    into the materialized hourly table -- the incremental build of
    the partial table events_rollup_2level's daily grain re-aggregates
    (the hypertable pattern: raw events are read once, ever; every
    coarser grain derives from the partials).  Only algebraic state
    is kept (count + sum; avg derives at read), so merge order never
    matters and backfill equals live.  Same additive full-outer merge
    as merge_stream_into_parquet, keyed on the window instead of the
    user, hardened three ways: (1) only an explicitly MISSING table
    reads as "first batch" -- any other read failure (corrupt footer,
    transient IO) re-raises and aborts the batch, because treating it
    as absence would silently reset the accumulated table to one
    delta; (2) a batch-id mark makes replayed batches (foreachBatch
    is at-least-once across restarts) no-ops instead of double-counts;
    (3) the merged table and its mark are staged into a sibling
    directory and swapped in by one recoverable rename
    (exactly_once_table_merge), so the merge plan never overwrites its
    own parquet source mid-read and no crash separates data from
    mark."""

    return _drive(
        events, hourly_path + "_chk",
        lambda df, bid: hourly_rollup_merge_step(spark, df, bid, hourly_path),
    )


def exactly_once_table_merge(
    spark: SparkSession,
    path: str,
    batch_id: int,
    merge_fn,
) -> bool:
    """Replay-guarded, staged-swap overwrite of a parquet state table
    -- the exactly-once discipline every foreachBatch state merge here
    shares (hourly rollup, HLL registers, SCD2 dimension).

    ``merge_fn(target)`` builds the table's new full contents from its
    current contents (``target`` is None only when the table does not
    exist yet -- a corrupt/unreadable table re-raises and aborts the
    batch rather than silently resetting state).  Guarantees:

    * replayed batches (batch_id <= the table's committed batch id)
      are no-ops, so at-least-once foreachBatch delivery cannot
      double-apply a non-idempotent merge;
    * the merged table is fully STAGED before the old one moves --
      the plan reads ``path`` itself, so an in-place overwrite could
      recompute from a half-deleted source;
    * the commit point is ATOMIC: the applied batch id travels INSIDE
      the staged directory (``_BATCH_ID``), so one directory rename
      publishes data and mark together -- no crash can leave the merge
      landed but the mark not (a double-apply on replay);
    * a crash between the two swap renames is recovered on the next
      call (the pre-merge table is restored, the batch re-runs).

    The staging, marker and swap are operators/table_format.py's
    ``_staged_swap``; this function only adds the replay guard.
    Returns True if the batch was applied, False for a replay no-op.
    """
    import os

    from ..operators.table_format import _staged_swap

    def _build(current: str | None):
        try:
            applied = int(current.strip()) if current is not None else -1
        except ValueError:
            applied = -1
        if batch_id <= applied:
            return None  # replayed batch: already merged, exactly-once no-op
        # only explicit absence means "first batch"; a corrupt/unreadable
        # table must abort the batch, not silently reset the state
        target = spark.read.parquet(path) if os.path.exists(path) else None
        return merge_fn(target), str(batch_id)

    return _staged_swap(path, _build, "_BATCH_ID")


def hourly_rollup_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, hourly_path: str
) -> bool:
    """One hardened hourly-rollup merge (the foreachBatch body of
    hourly_rollup_stream, exposed for direct replay/crash testing).
    Returns True if the batch was merged, False if it was a replayed
    no-op.  Replay guard / staged swap live in
    exactly_once_table_merge."""

    def _merge(target: DataFrame | None) -> DataFrame:
        delta = batch_df.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(F.count("*").alias("pc"), F.sum("value").alias("pv"))
        if target is None:
            return delta
        t = target.select(
            F.col("hour").alias("t_hour"),
            F.col("event_type").alias("t_type"),
            F.col("pc").alias("t_pc"),
            F.col("pv").alias("t_pv"),
        )
        merged = (
            delta.join(
                t,
                (delta.hour == t.t_hour)
                & (delta.event_type == t.t_type),
                "full_outer",
            )
            .select(
                F.coalesce(delta.hour, t.t_hour).alias("hour"),
                F.coalesce(delta.event_type, t.t_type).alias("event_type"),
                (
                    F.coalesce(delta.pc, F.lit(0))
                    + F.coalesce(t.t_pc, F.lit(0))
                ).alias("pc"),
                (
                    F.coalesce(delta.pv, F.lit(0.0))
                    + F.coalesce(t.t_pv, F.lit(0.0))
                ).alias("pv"),
            )
        )
        return merged

    return exactly_once_table_merge(spark, hourly_path, batch_id, _merge)


def hll_rollup_stream(
    spark: SparkSession, events: DataFrame, regs_path: str
) -> StreamingQuery:
    """Streaming DISTINCT-count continuous aggregate: an HLL register
    table (bucket, m_j) per event_type is maintained across
    micro-batches by elementwise register MAX -- the streaming side
    of sketch_hll_merge, answering "distinct users per type so far"
    at any moment from 256 rows per type, never rescanning history.
    Register max is idempotent AND commutative, so unlike the
    additive hourly rollup a replayed batch cannot corrupt state --
    the high-water mark here only saves work.  Same staged-swap merge
    discipline as hourly_rollup_merge_step."""

    return _drive(
        events, regs_path + "_chk",
        lambda df, bid: hll_rollup_merge_step(spark, df, bid, regs_path),
    )


def hll_rollup_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, regs_path: str
) -> bool:
    """One register-merge micro-batch (exposed for replay testing).
    Returns True if merged, False for a replayed no-op.  Replay guard
    / staged swap live in exactly_once_table_merge."""
    from ..plans.sketches import hll_registers

    def _merge(target: DataFrame | None) -> DataFrame:
        delta = hll_registers(batch_df, "event_type", F.col("user_id"))
        if target is None:
            return delta
        return (
            delta.unionByName(target)
            .groupBy("event_type", "bucket")
            .agg(F.max("m_j").alias("m_j"))
        )

    return exactly_once_table_merge(spark, regs_path, batch_id, _merge)


def daily_from_hourly(hourly: DataFrame) -> DataFrame:
    """The coarser grain of the continuous aggregate: daily stats
    re-aggregated from the materialized hourly partials -- identical
    expressions to the batch events_rollup_2level's second level, so
    the streamed hourly table composes to the same daily answer the
    one-shot batch query gives (parity-tested)."""
    return (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
        .agg(
            F.sum("pc").alias("n_events"),
            F.round(F.sum("pv"), 2).alias("total_value"),
            (
                F.floor(
                    F.round(F.sum("pv"), 2) / F.sum("pc") * 10000 + F.lit(0.5)
                )
                / 10000
            ).alias("avg_value"),
        )
    )


def decontaminate_stream(
    docs_stream: DataFrame,
    eval_docs: DataFrame,
    out_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming benchmark decontamination via foreachBatch: each
    micro-batch of newly landed documents runs the BATCH
    decontamination core (plans/dedup.py::decontaminate_frame)
    against the static eval corpus and writes its flagged docs to a
    parquet sink.  Per-doc overlap stats are independent across docs,
    so any batching of the input yields byte-identical rows to the
    one-shot batch run -- the backfill-agrees-with-live property, by
    construction, because it IS the batch code.

    foreachBatch is at-least-once across failures, so each batch
    OVERWRITES its own `batch=<id>` subdirectory instead of appending
    to a shared one: a crash-replayed batch rewrites the same
    partition and the sink stays exactly-once effective (same
    batch-id idempotence contract as snapshot_merge_step below, in
    layout form).  The eval side stays a broadcast inside each batch;
    at deploy the eval shingle set is precomputed once to a table
    instead of re-derived per batch."""
    from ..plans.dedup import decontaminate_frame

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        decontaminate_frame(batch_df, eval_docs).write.mode(
            "overwrite"
        ).parquet(f"{out_path}/batch={batch_id}")

    return _drive(docs_stream, checkpoint_dir, _step)


def running_tokens_stream(
    spark: SparkSession, docs_stream: DataFrame, out_path: str
) -> StreamingQuery:
    """Streaming twin of the prefix-sum family: per-document global
    running token totals (plans/packing.py::running_corpus_tokens)
    maintained incrementally as the corpus lands.  Each micro-batch
    runs the SAME three-level exclusive_cumsum the batch query uses,
    shifted by a carried offset (total tokens of all prior batches),
    so live ingest and a one-shot backfill produce identical rows --
    provided batches arrive in corpus-append order (nondecreasing
    doc_id ranges), which is what a landing-directory ingest gives.

    Exactly-once hardening mirrors hourly_rollup_merge_step: the
    carried (batch_id, offset) state is a JSON file advanced
    atomically AFTER the batch's output partition is written, each
    batch overwrites its own ``batch=<id>`` directory, and a replayed
    batch_id is a no-op (a crash between output and state write
    replays with the same offset, rewriting identical rows)."""

    return _drive(
        docs_stream, out_path + "_chk",
        lambda df, bid: running_tokens_step(spark, df, bid, out_path),
    )


def running_tokens_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, out_path: str
) -> bool:
    """One running-total micro-batch (the foreachBatch body of
    running_tokens_stream, exposed for direct replay testing).
    Returns True if applied, False for a replayed no-op."""
    import json

    from ..operators.prefix import exclusive_cumsum
    from ..operators.table_format import _atomic_write

    state_path = out_path.rstrip("/") + "_STATE"
    try:
        with open(state_path) as f:
            state = json.load(f)
    except (FileNotFoundError, ValueError):
        state = {"batch_id": -1, "offset": 0}
    if batch_id <= state["batch_id"]:
        return False  # replayed batch: already emitted, exactly-once no-op

    t = batch_df.select(
        "doc_id",
        "source",
        F.size(F.split(F.lower(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    c = exclusive_cumsum(
        t, "doc_id", "n_tokens", out="tokens_before",
        bucket_width=64, super_width=16,
    )
    out_dir = f"{out_path}/batch={batch_id}"
    c.select(
        "doc_id",
        "source",
        "n_tokens",
        (
            F.col("tokens_before") + F.col("n_tokens") + F.lit(state["offset"])
        ).alias("running_total"),
    ).write.mode("overwrite").parquet(out_dir)
    # the last doc's inclusive total IS offset + batch token sum
    m = spark.read.parquet(out_dir).agg(F.max("running_total")).first()[0]
    new_offset = int(m) if m is not None else state["offset"]
    _atomic_write(
        state_path, json.dumps({"batch_id": batch_id, "offset": new_offset})
    )
    return True


def view_click_join_stream(
    events: DataFrame, watermark: str = "1 hour", horizon: str = "30 minutes"
) -> DataFrame:
    """Stream-stream interval self-join: clicks matched to the same
    user's preceding views within the horizon -- the streaming twin of
    plans/events.events_view_click_pairs (identical predicate, parity-
    tested).  Both sides carry a watermark and the join condition
    bounds event-time distance, so Spark can expire join state: a view
    is dropped from state once the click-side watermark passes
    view_ts + horizon.  Unbounded-state stream joins are exactly what
    this form avoids at topic scale."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return views.join(
        clicks,
        (views.user_id == clicks.c_user_id)
        & (clicks.click_ts >= views.view_ts)
        & (clicks.click_ts <= views.view_ts + F.expr(f"INTERVAL {horizon}")),
    ).select(
        "user_id",
        "view_id",
        "click_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("delay_us"),
    )


def merge_stream_into_snapshot_table(
    spark: SparkSession, events: DataFrame, table_root: str
) -> StreamingQuery:
    """Transactional streaming merge: every micro-batch's per-user
    aggregate deltas are merged into a SnapshotTable
    (operators/table_format.py) as ONE atomic snapshot commit whose
    batch-id marker makes retried batches no-ops.

    foreachBatch alone is at-least-once across failures (a batch can
    re-run after a crash between sink write and checkpoint commit);
    pairing it with an idempotence guard keyed on batch_id upgrades
    the sink to exactly-once -- precisely the txn-version check Delta's
    `txnAppId`/`txnVersion` and Iceberg's WAP commit run internally.
    Readers meanwhile only ever see complete snapshots (pointer swap
    is atomic), so a crashed commit leaves garbage, not corruption."""
    from ..operators.table_format import SnapshotTable

    table = SnapshotTable(spark, table_root)

    return _drive(
        events, table_root + "_chk",
        lambda df, bid: snapshot_merge_step(table, df, bid),
    )


def snapshot_merge_step(table, batch_df: DataFrame, batch_id: int) -> bool:
    """One exactly-once merge step (the foreachBatch body, exposed for
    direct retry testing): skip if batch_id is at or below the batch
    id marked in the live snapshot, else additively merge the batch's
    per-user deltas and commit one snapshot carrying the new mark --
    data and mark publish in the same pointer swap, so no crash can
    apply a batch twice.  Returns True if the batch was applied,
    False if skipped."""
    applied = table.applied_batch()
    if applied is not None and batch_id <= applied:
        return False  # retried batch: already committed, exactly-once no-op
    delta = batch_df.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    if table.current_snapshot() is None:
        merged = delta
    else:
        t = table.read().select(
            F.col("user_id").alias("t_user"),
            F.col("n_events").alias("t_n"),
            F.col("total_value").alias("t_v"),
        )
        merged = delta.join(t, delta.user_id == t.t_user, "full_outer").select(
            F.coalesce(delta.user_id, t.t_user).alias("user_id"),
            (
                F.coalesce(delta.n_events, F.lit(0)) + F.coalesce(t.t_n, F.lit(0))
            ).alias("n_events"),
            (
                F.coalesce(delta.total_value, F.lit(0.0))
                + F.coalesce(t.t_v, F.lit(0.0))
            ).alias("total_value"),
        )
    # commit() writes the new snapshot BEFORE swapping the pointer, so
    # the read above never races its own overwrite (unlike the plain-
    # parquet variant, no cache barrier needed).
    table.commit(merged, marker=batch_id)
    return True


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """The running-totals operator on the transformWithState API
    (Spark 4's arbitrary-stateful successor to applyInPandasWithState):
    explicit ValueState per key, Arrow-batched input, the API that
    also offers timers, TTL and multiple state variables for richer
    operators.  Kept semantically identical to
    running_user_totals_stream so the two APIs are directly
    comparable (and parity-tested against the same batch aggregate).

    Runtime requirement: the transformWithState Python runner speaks
    protobuf to the JVM, so google.protobuf must be importable in the
    worker environment; the parity test skips itself where it is not
    (this container), while applyInPandasWithState twins stay the
    always-runnable default."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def tws_runtime_available() -> bool:
    """Capability probe: transformWithStateInPandas spawns a dedicated
    streaming Python runner that speaks protobuf to the JVM, so
    without google.protobuf it crashes at init regardless of operator
    code.  Shared by the dispatch wrapper below and the test suite."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_user_totals_arbitrary_state(events: DataFrame) -> DataFrame:
    """Runtime-dispatched arbitrary-stateful running totals: the
    transformWithState form when its protobuf-speaking runner is
    importable, else the applyInPandasWithState form.  The two bodies
    are maintained semantically identical (same output schema, same
    rounding), so callers get ONE operator that always runs with the
    richest available state API -- and the parity test runs
    unconditionally instead of skipping on containers without
    google.protobuf."""
    if tws_runtime_available():
        return running_user_totals_tws(events)
    return running_user_totals_stream(events)


# ---------------------------------------------------------------------------
# Streaming SCD Type-2 dimension maintenance (CDC apply)
# ---------------------------------------------------------------------------
SCD2_DIM_SCHEMA = (
    "user_id long, event_type string, valid_from timestamp, "
    "valid_to timestamp, is_current boolean"
)


def scd2_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, dim_path: str
) -> bool:
    """One CDC micro-batch applied to the SCD2 dimension table (the
    foreachBatch body of scd2_stream, exposed for replay testing).

    The batch first compacts to each key's LAST change (max (ts,
    event_id) -- standard CDC batch semantics: intermediate states
    that both arrive and are superseded inside one micro-batch never
    become versions), then operators/scale.py::scd2_merge closes /
    opens versions with each key's own change time as the effective
    timestamp.  Exactly-once via exactly_once_table_merge -- the
    version append is NOT idempotent, so the replay guard is load-
    bearing here (a double-applied batch would close the fresh
    version against itself).  Returns True if applied, False for a
    replayed no-op."""
    from ..operators.scale import scd2_merge

    def _merge(target: DataFrame | None) -> DataFrame:
        last = (
            batch_df.select("user_id", "ts", "event_id", "event_type")
            .groupBy("user_id")
            .agg(
                F.expr("max_by(event_type, struct(ts, event_id))").alias(
                    "event_type"
                ),
                F.max("ts").alias("eff_ts"),
            )
        )
        if target is None:
            target = spark.createDataFrame([], schema=SCD2_DIM_SCHEMA)
        return scd2_merge(
            target, last, key="user_id", effective="eff_ts",
            attrs=["event_type"],
        )

    return exactly_once_table_merge(spark, dim_path, batch_id, _merge)


def scd2_stream(
    spark: SparkSession, events: DataFrame, dim_path: str
) -> StreamingQuery:
    """Streaming SCD2 dimension maintenance: consume the events CDC
    stream and keep a versioned (valid_from / valid_to / is_current)
    dimension of each user's current event_type state -- the
    streaming counterpart of the batch history build
    plans/warehouse.py::scd2_user_state (parity on the CURRENT state
    is pinned in tests; historical version boundaries differ only by
    micro-batch compaction, which is the standard CDC contract).

    Scale: each micro-batch joins only the CURRENT slice of the
    dimension against the (key-compacted) batch -- history rows never
    join; at deploy scale the dimension is bucketed on the key and
    only touched partitions rewrite."""

    return _drive(
        events, dim_path + "_chk",
        lambda df, bid: scd2_merge_step(spark, df, bid, dim_path),
    )


def hygiene_stream(docs: DataFrame) -> DataFrame:
    """Streaming corpus-hygiene gate: the per-document PII counts,
    quality score, and admit decision applied to a landing-zone
    document stream.  Entirely stateless (narrow projections only --
    plans/scrub.py::hygiene_frame), so it runs in append mode with no
    watermark, no state store, and exactly the batch semantics: the
    streaming output over any landing set equals the batch frame over
    the same rows (parity-tested).  This is the shape to put FIRST in
    a streaming ingest DAG -- rejecting PII/low-quality docs at the
    landing edge keeps every downstream stateful stage (dedup, index
    maintenance) smaller."""
    from ..plans.scrub import hygiene_frame

    return hygiene_frame(docs)


# ---------------------------------------------------------------------------
# Streaming M4 downsample maintenance (dashboard continuous aggregate)
# ---------------------------------------------------------------------------
def m4_state(events: DataFrame) -> DataFrame:
    """Mergeable M4 state per 6-hour pixel bucket: count, min, max,
    and the first/last points carried WITH their sortable
    (epoch_us, event_id) keys -- the keys are what make the state
    algebraic (two states merge by comparing keys; the rendered
    first/last drop the keys).  Batch twin of the rendered form:
    plans/events.py::events_m4_downsample."""
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        events.select(
            F.window("ts", "6 hours").start.alias("bucket"),
            "value",
            key.alias("k"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_points"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.min("k").alias("first_key"),
            F.min_by("value", F.col("k")).alias("v_first"),
            F.max("k").alias("last_key"),
            F.max_by("value", F.col("k")).alias("v_last"),
        )
    )


def m4_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, path: str
) -> bool:
    """One M4-state merge micro-batch: count adds, min/max fold, and
    first/last resolve by comparing the carried keys -- all algebraic,
    so merge order never matters and backfill equals live.  Replay
    guard / staged swap live in exactly_once_table_merge."""

    def _merge(target: DataFrame | None) -> DataFrame:
        delta = m4_state(batch_df)
        if target is None:
            return delta
        t = target.select(
            F.col("bucket").alias("t_bucket"),
            *[
                F.col(c).alias(f"t_{c}")
                for c in (
                    "n_points", "v_min", "v_max",
                    "first_key", "v_first", "last_key", "v_last",
                )
            ],
        )
        d_first = F.col("t_first_key").isNull() | (
            F.col("first_key").isNotNull()
            & (F.col("first_key") < F.col("t_first_key"))
        )
        d_last = F.col("t_last_key").isNull() | (
            F.col("last_key").isNotNull()
            & (F.col("last_key") > F.col("t_last_key"))
        )
        return (
            delta.join(t, delta.bucket == t.t_bucket, "full_outer")
            .select(
                F.coalesce(delta.bucket, t.t_bucket).alias("bucket"),
                (
                    F.coalesce(F.col("n_points"), F.lit(0))
                    + F.coalesce(F.col("t_n_points"), F.lit(0))
                ).alias("n_points"),
                F.least("v_min", "t_v_min").alias("v_min"),
                F.greatest("v_max", "t_v_max").alias("v_max"),
                F.when(d_first, F.col("first_key"))
                .otherwise(F.col("t_first_key"))
                .alias("first_key"),
                F.when(d_first, F.col("v_first"))
                .otherwise(F.col("t_v_first"))
                .alias("v_first"),
                F.when(d_last, F.col("last_key"))
                .otherwise(F.col("t_last_key"))
                .alias("last_key"),
                F.when(d_last, F.col("v_last"))
                .otherwise(F.col("t_v_last"))
                .alias("v_last"),
            )
        )

    return exactly_once_table_merge(spark, path, batch_id, _merge)


def m4_stream(
    spark: SparkSession, events: DataFrame, path: str
) -> StreamingQuery:
    """Streaming twin of events_m4_downsample: the 4-points-per-pixel
    dashboard table is maintained incrementally across micro-batches
    (count/min/max/first/last are all algebraic, so this is a pure
    state merge -- raw events are read once, ever), with the same
    batch-id replay guard and staged-swap publish as every state
    table here."""

    return _drive(
        events, path + "_chk",
        lambda df, bid: m4_merge_step(spark, df, bid, path),
    )


# ---------------------------------------------------------------------------
# Streaming bitmap index maintenance (word-ORed predicate bitmaps)
# ---------------------------------------------------------------------------
_BM_WORD = 32  # payload bits per word; 1<<31 stays inside signed BIGINT


def bitmap_state(events: DataFrame) -> DataFrame:
    """Mergeable bitmap-index state over events: per {w}-bit word of
    the event_id space, one packed bitmap per indexed predicate
    (purchase-typed; high-value).  Batch twin of the build inside
    plans/warehouse.py::bitmap_index_intersect -- and the reason a
    bitmap index suits streaming maintenance at all: bitmap words
    from disjoint row sets merge by plain bitwise OR, the same
    algebraic-state discipline as every snapshot table here."""
    bit = F.expr(
        f"shiftleft(cast(1 as bigint), cast(event_id % {_BM_WORD} as int))"
    )
    return (
        events.select(
            F.floor(F.col("event_id") / _BM_WORD).alias("word"),
            F.when(F.col("event_type") == "purchase", bit)
            .otherwise(F.lit(0))
            .alias("bit_a"),
            F.when(F.col("value") > 100.0, bit).otherwise(F.lit(0)).alias(
                "bit_b"
            ),
        )
        .groupBy("word")
        .agg(
            F.bit_or("bit_a").alias("bm_a"),
            F.bit_or("bit_b").alias("bm_b"),
        )
    )


bitmap_state.__doc__ = bitmap_state.__doc__.format(w=_BM_WORD)


def bitmap_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, path: str
) -> bool:
    """One bitmap-index micro-batch: the batch's word bitmaps OR into
    the persisted index (full-outer on word, bitwise OR, missing side
    = 0).  OR is idempotent per bit and commutative/associative per
    word, so merge order never matters; the batch-id replay guard and
    staged swap live in exactly_once_table_merge."""

    def _merge(target: DataFrame | None) -> DataFrame:
        delta = bitmap_state(batch_df)
        if target is None:
            return delta
        t = target.select(
            F.col("word").alias("t_word"),
            F.col("bm_a").alias("t_bm_a"),
            F.col("bm_b").alias("t_bm_b"),
        )
        z = F.lit(0).cast("bigint")
        return delta.join(t, delta.word == t.t_word, "full_outer").select(
            F.coalesce(delta.word, t.t_word).alias("word"),
            F.coalesce(F.col("bm_a"), z)
            .bitwiseOR(F.coalesce(F.col("t_bm_a"), z))
            .alias("bm_a"),
            F.coalesce(F.col("bm_b"), z)
            .bitwiseOR(F.coalesce(F.col("t_bm_b"), z))
            .alias("bm_b"),
        )

    return exactly_once_table_merge(spark, path, batch_id, _merge)


def bitmap_index_stream(
    spark: SparkSession, events: DataFrame, path: str
) -> StreamingQuery:
    """Streaming twin of bitmap_index_intersect's build phase: the
    predicate bitmap index is maintained incrementally across
    micro-batches, so multi-predicate counts (popcount of AND/OR over
    the word table) stay queryable without ever rescanning the event
    history -- raw events are read once, ever."""

    return _drive(
        events, path + "_chk",
        lambda df, bid: bitmap_merge_step(spark, df, bid, path),
    )


# ---------------------------------------------------------------------------
# Streaming ranking-metric maintenance (AUC over additive score marginals)
# ---------------------------------------------------------------------------


def auc_state(docs: DataFrame) -> DataFrame:
    """Mergeable AUC state: per distinct score value, positive and
    negative counts -- the sufficient statistic of the Mann-Whitney
    rank-sum AUC (plans/evaluation.py::classifier_auc), additive
    across any partition of the corpus, so micro-batches merge by
    plain +.  Score/label here mirror the batch query (document
    length scoring English-ness)."""
    is_pos = F.col("lang") == "en"
    return docs.groupBy(F.col("n_chars").alias("score")).agg(
        F.count(F.when(is_pos, 1)).alias("p"),
        F.count(F.when(~is_pos, 1)).alias("q"),
    )


def auc_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, path: str
) -> bool:
    """One AUC-state micro-batch: the batch's (score, p, q) marginals
    ADD into the persisted state (full-outer on score, missing side =
    0) under the shared batch-id replay guard and staged swap."""

    def _merge(target: DataFrame | None) -> DataFrame:
        delta = auc_state(batch_df)
        if target is None:
            return delta
        t = target.select(
            F.col("score").alias("t_score"),
            F.col("p").alias("t_p"),
            F.col("q").alias("t_q"),
        )
        z = F.lit(0).cast("bigint")
        return delta.join(t, delta.score == t.t_score, "full_outer").select(
            F.coalesce(delta.score, t.t_score).alias("score"),
            (F.coalesce(F.col("p"), z) + F.coalesce(F.col("t_p"), z)).alias(
                "p"
            ),
            (F.coalesce(F.col("q"), z) + F.coalesce(F.col("t_q"), z)).alias(
                "q"
            ),
        )

    return exactly_once_table_merge(spark, path, batch_id, _merge)


def auc_render(state: DataFrame) -> DataFrame:
    """AUC scorecard from the maintained state -- the identical
    tie-corrected rank-sum identity the batch query states, over the
    distinct-score frame (value-domain-sized, not corpus-sized)."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy()
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = state.select(
        "p",
        "q",
        F.coalesce(F.sum("q").over(w), F.lit(0)).alias("cum_neg_below"),
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


def auc_stream(
    spark: SparkSession, docs: DataFrame, path: str
) -> StreamingQuery:
    """Streaming twin of classifier_auc: the per-score marginal table
    is maintained incrementally (rank metrics look global, but their
    sufficient statistic is an additive histogram), so the model
    scorecard stays current without rescanning the corpus -- the
    shape every continuously-evaluated quality classifier needs."""

    return _drive(
        docs, path + "_chk",
        lambda df, bid: auc_merge_step(spark, df, bid, path),
    )


def dead_letter_stream(events: DataFrame) -> DataFrame:
    """Streaming bad-record quarantine: the parse-or-route gate
    (plans/events.py::dead_letter_frame) applied at the landing edge
    -- malformed payloads are flagged and carried, never aborting the
    micro-batch.  Entirely stateless (append mode, no watermark, no
    state store), so streaming output equals the batch frame over the
    same rows (parity-tested).  At deploy the quarantined=true side
    forks to a dead-letter table with raw bytes for replay; the gate
    sits FIRST in the ingest DAG, like hygiene_stream for documents."""
    from ..plans.events import dead_letter_frame

    return dead_letter_frame(events)


# ---------------------------------------------------------------------------
# Streaming drift monitor: incremental PSI count-state maintenance
# ---------------------------------------------------------------------------
def psi_drift_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, counts_path: str
) -> bool:
    """One exactly-once merge of a micro-batch into the PSI drift
    count state (bin, n_a, n_b) -- purely additive, so the merge is
    the same full-outer coalesce-sum as the hourly rollup, under the
    shared replay-guarded staged-swap commit.  Exposed for direct
    replay/crash testing; returns False on a replayed no-op."""
    from ..plans.analytics import drift_counts_frame

    def _merge(target: DataFrame | None) -> DataFrame:
        delta = drift_counts_frame(batch_df)
        if target is None:
            return delta
        t = target.select(
            F.col("bin").alias("t_bin"),
            F.col("n_a").alias("t_na"),
            F.col("n_b").alias("t_nb"),
        )
        return (
            delta.join(t, delta.bin == t.t_bin, "full_outer")
            .select(
                F.coalesce(delta.bin, t.t_bin).alias("bin"),
                (
                    F.coalesce(delta.n_a, F.lit(0))
                    + F.coalesce(t.t_na, F.lit(0))
                ).alias("n_a"),
                (
                    F.coalesce(delta.n_b, F.lit(0))
                    + F.coalesce(t.t_nb, F.lit(0))
                ).alias("n_b"),
            )
        )

    return exactly_once_table_merge(spark, counts_path, batch_id, _merge)


def psi_drift_stream(
    spark: SparkSession, events: DataFrame, counts_path: str
) -> StreamingQuery:
    """Streaming distribution-drift monitor: the PSI count state
    (plans/analytics.py::drift_counts_frame) maintained incrementally
    across micro-batches -- each batch adds its per-bin period counts,
    and the PSI readout (plans/analytics.py::psi_readout) is computed
    from the tiny state table at any moment, never rescanning event
    history.  The state is bounded by the bin count regardless of
    stream volume, and additivity means cross-day / cross-partition
    monitors union states.  Exactly-once via the shared batch-id
    high-water mark; parity with the batch frame over the same rows
    is pinned in tests."""

    return _drive(
        events, counts_path + "_chk",
        lambda df, bid: psi_drift_merge_step(spark, df, bid, counts_path),
    )


def ks_drift_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, counts_path: str
) -> bool:
    """One exactly-once merge of a micro-batch of documents into the
    KS drift count state (v, a_cnt, b_cnt) -- purely additive per
    value, same full-outer coalesce-sum as the PSI state, under the
    shared replay-guarded staged-swap commit.  Returns False on a
    replayed no-op."""
    from ..plans.analytics import ks_counts_frame

    def _merge(target: DataFrame | None) -> DataFrame:
        delta = ks_counts_frame(batch_df)
        if target is None:
            return delta
        t = target.select(
            F.col("v").alias("t_v"),
            F.col("a_cnt").alias("t_a"),
            F.col("b_cnt").alias("t_b"),
        )
        return delta.join(t, delta.v == t.t_v, "full_outer").select(
            F.coalesce(delta.v, t.t_v).alias("v"),
            (
                F.coalesce(delta.a_cnt, F.lit(0))
                + F.coalesce(t.t_a, F.lit(0))
            )
            .cast("bigint")
            .alias("a_cnt"),
            (
                F.coalesce(delta.b_cnt, F.lit(0))
                + F.coalesce(t.t_b, F.lit(0))
            )
            .cast("bigint")
            .alias("b_cnt"),
        )

    return exactly_once_table_merge(spark, counts_path, batch_id, _merge)


def ks_drift_stream(
    spark: SparkSession, docs: DataFrame, counts_path: str
) -> StreamingQuery:
    """Streaming two-sample KS drift monitor: the per-value cohort
    count state (plans/analytics.py::ks_counts_frame) maintained
    incrementally across micro-batches; the KS statistic
    (ks_readout) is computed from the state table at any moment,
    never rescanning document history.  State is bounded by the
    distinct-value domain (document lengths), not stream volume, and
    additive states union across days/partitions.  Exactly-once via
    the shared batch-id high-water mark; parity with the batch query
    over the same rows is pinned in tests."""

    return _drive(
        docs, counts_path + "_chk",
        lambda df, bid: ks_drift_merge_step(spark, df, bid, counts_path),
    )


# ---------------------------------------------------------------------------
# Z-set (retraction-aware) materialized-view maintenance stream
# ---------------------------------------------------------------------------
ZSET_DELTA_SCHEMA = T.StructType(
    [
        T.StructField("priority", T.StringType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("cents", T.LongType()),
    ]
)


def stream_weighted_deltas(
    spark: SparkSession,
    deltas_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory of weighted change
    rows (priority, w, cents) -- the CDC/changelog shape where w=+1 is
    an insert and w=-1 a retraction of a previously-inserted row.
    ``max_files_per_trigger`` caps files per micro-batch (how tests
    force a genuinely multi-batch replay)."""
    reader = spark.readStream.schema(ZSET_DELTA_SCHEMA).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(deltas_dir)


def zset_mv_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, mv_path: str
) -> bool:
    """One exactly-once merge of a weighted micro-batch into the
    grouped MV state -- the streaming half of the DBSP contract
    plans/warehouse.py::mv_retraction_agg states as a query: every
    maintained column is an Abelian-group aggregate (count += sum(w),
    cents += sum(w * cents), monotone insert/retract counters), so
    deltas ADD into the stored states and retraction costs the same
    as insert -- no tombstone rewrite, no base rescan.  Zero-weight
    groups are KEPT in the state table (their audit counters must
    survive a revival); the readout (zset_mv_render) hides them,
    matching the batch query's dropped-group semantics.  Runs under
    the shared replay-guarded staged-swap commit; returns False on a
    replayed no-op."""

    def _merge(target: DataFrame | None) -> DataFrame:
        delta = batch_df.groupBy("priority").agg(
            F.sum("w").cast("bigint").alias("dn"),
            F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("ds"),
            F.sum(F.when(F.col("w") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("ins"),
            F.sum(F.when(F.col("w") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("ret"),
        )
        z = F.lit(0).cast("bigint")
        if target is None:
            return delta.select(
                "priority",
                F.col("dn").alias("n_live"),
                F.col("ds").alias("revenue_cents"),
                F.col("ins").alias("inserted_rows"),
                F.col("ret").alias("retracted_rows"),
            )
        t = target.select(
            F.col("priority").alias("t_p"),
            "n_live",
            "revenue_cents",
            "inserted_rows",
            "retracted_rows",
        )
        return (
            delta.join(t, delta.priority == t.t_p, "full_outer")
            .select(
                F.coalesce(delta.priority, t.t_p).alias("priority"),
                (F.coalesce(t.n_live, z) + F.coalesce(delta.dn, z)).alias(
                    "n_live"
                ),
                (
                    F.coalesce(t.revenue_cents, z) + F.coalesce(delta.ds, z)
                ).alias("revenue_cents"),
                (
                    F.coalesce(t.inserted_rows, z) + F.coalesce(delta.ins, z)
                ).alias("inserted_rows"),
                (
                    F.coalesce(t.retracted_rows, z) + F.coalesce(delta.ret, z)
                ).alias("retracted_rows"),
            )
        )

    return exactly_once_table_merge(spark, mv_path, batch_id, _merge)


def zset_mv_render(state: DataFrame) -> DataFrame:
    """Readout of the Z-set MV state: groups whose maintained
    multiplicity reached zero vanish, exactly as a recompute over the
    live rows would drop them (the batch query filters the same
    way)."""
    return state.filter(F.col("n_live") > 0)


def zset_mv_stream(
    spark: SparkSession, deltas: DataFrame, mv_path: str
) -> StreamingQuery:
    """Streaming retraction-aware view maintenance: the grouped MV is
    kept current against a +-1-weighted changelog with ONE additive
    state merge per micro-batch -- the DBSP / differential-dataflow
    execution model under foreachBatch.  Deletes flow through the
    same path as inserts (w=-1), so compliance erasures and
    corrections never trigger a base-table rewrite; cross-day /
    cross-partition states union by the same addition.  Exactly-once
    via the shared batch-id high-water mark; parity with the batch
    query (mv_retraction_agg) over an equivalent changelog is pinned
    in tests."""

    return _drive(
        deltas, mv_path + "_chk",
        lambda df, bid: zset_mv_merge_step(spark, df, bid, mv_path),
    )


# ---------------------------------------------------------------------------
# Streaming mixture waterfilling (the data recipe, tracked live)
# ---------------------------------------------------------------------------
def waterfill_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, state_path: str
) -> bool:
    """One exactly-once merge of a documents micro-batch into the
    per-source token census (source, avail) -- purely additive, same
    full-outer coalesce-sum discipline as the PSI drift state, under
    the shared replay-guarded staged-swap commit.  Returns False on a
    replayed no-op."""
    from ..plans.quality import source_tokens_frame

    def _merge(target: DataFrame | None) -> DataFrame:
        delta = source_tokens_frame(batch_df)
        if target is None:
            return delta
        t = target.select(
            F.col("source").alias("t_source"),
            F.col("avail").alias("t_avail"),
        )
        return (
            delta.join(t, delta.source == t.t_source, "full_outer")
            .select(
                F.coalesce(delta.source, t.t_source).alias("source"),
                (
                    F.coalesce(delta.avail, F.lit(0))
                    + F.coalesce(t.t_avail, F.lit(0))
                ).cast("bigint").alias("avail"),
            )
        )

    return exactly_once_table_merge(spark, state_path, batch_id, _merge)


def waterfill_render(state: DataFrame) -> DataFrame:
    """The current training-mix recipe from the census state: the
    same closed-form solve as the batch mixture_waterfill
    (plans/quality.py::waterfill_solve), so the streamed answer is
    definitionally parity with a batch run over the rows seen so far
    (pinned in tests).  The solve touches only the bounded source
    list -- recomputing it per readout is cheaper than maintaining it
    incrementally."""
    from ..plans.quality import waterfill_solve

    return waterfill_solve(state)


def waterfill_stream(
    spark: SparkSession, docs: DataFrame, state_path: str
) -> StreamingQuery:
    """Streaming twin of mixture_waterfill: maintain the additive
    per-source token census across micro-batches and re-solve the
    waterfilling recipe from the tiny state at any moment -- "what
    should the sampling targets be, given everything ingested so
    far" -- never rescanning document history.  Exactly-once via the
    shared batch-id high-water mark."""

    return _drive(
        docs, state_path + "_chk",
        lambda df, bid: waterfill_merge_step(spark, df, bid, state_path),
    )


# ---------------------------------------------------------------------------
# Continuously-maintained content fingerprint (replication validator)
# ---------------------------------------------------------------------------
_FPS_COLS = ("doc_id", "lang", "source", "n_chars")


def fingerprint_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, state_path: str
) -> bool:
    """One exactly-once merge of a documents micro-batch into the
    running (n_rows, sum_fp, xor_fp) fingerprint state.  The three
    components are commutative/associative reductions (count, modular
    sum, XOR), so inserts merge exactly and the streamed state over
    ANY batching equals the batch fingerprint of all rows -- but they
    are NOT idempotent (a replayed batch double-counts), which is
    precisely what the shared batch-id high-water mark guards.
    Returns False on a replayed no-op."""
    from ..plans.warehouse import _FP_MOD, fingerprint_frame

    def _merge(target: DataFrame | None) -> DataFrame:
        delta = fingerprint_frame(batch_df, _FPS_COLS)
        if target is None:
            return delta
        t = target.select(
            F.col("n_rows").alias("t_n"),
            F.col("sum_fp").alias("t_s"),
            F.col("xor_fp").alias("t_x"),
        )
        return delta.crossJoin(t).select(
            (F.col("n_rows") + F.col("t_n")).cast("bigint").alias("n_rows"),
            (
                (
                    F.col("sum_fp").cast("decimal(38,0)")
                    + F.col("t_s").cast("decimal(38,0)")
                )
                % F.lit(_FP_MOD).cast("decimal(38,0)")
            ).cast("bigint").alias("sum_fp"),
            F.expr("xor_fp ^ t_x").cast("bigint").alias("xor_fp"),
        )

    return exactly_once_table_merge(spark, state_path, batch_id, _merge)


def fingerprint_stream(
    spark: SparkSession, docs: DataFrame, state_path: str
) -> StreamingQuery:
    """Streaming twin of table_fingerprint for the documents feed:
    the replication validator maintained continuously, so 'does the
    replica match the source' is a 3-integer comparison at ANY
    moment, with no rescan of either side.  Exactly-once via the
    shared batch-id high-water mark (the merge is additive, not
    idempotent -- the replay guard is load-bearing here)."""

    return _drive(
        docs, state_path + "_chk",
        lambda df, bid: fingerprint_merge_step(spark, df, bid, state_path),
    )


# ---------------------------------------------------------------------------
# Streaming Misra-Gries / SpaceSaving heavy-hitter summary maintenance
# ---------------------------------------------------------------------------
def spacesaving_merge_step(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    summary_path: str,
    err_path: str,
) -> bool:
    """One exactly-once SpaceSaving maintenance step (the foreachBatch
    body of spacesaving_stream, exposed for replay testing): compress
    the micro-batch's exact token histogram to a capacity-k summary
    with the SAME core the batch query uses
    (plans/sketches.py::mg_shard_compress, this batch as one shard),
    then MERGE additively -- per-item sum into the summary table, the
    batch's error bound appended to the error ledger.  Both merges
    ride exactly_once_table_merge; the batch's summary is a pure
    function of the batch alone, so a crash between the two merges
    replays to identical deltas.  The accumulated state brackets every
    true frequency: sum(cc) <= true <= sum(cc) + sum(e) -- the same
    guarantee the driver checks on the batch query, maintained
    incrementally with at most k rows of state added per batch."""
    from ..plans.sketches import mg_shard_compress

    toks = batch_df.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("item")
    )
    counts = toks.groupBy("item").agg(
        F.count("*").cast("bigint").alias("c")
    ).select(F.lit(batch_id).cast("bigint").alias("shard"), "item", "c")
    kept, err = mg_shard_compress(counts)
    delta = kept.select("item", "cc").localCheckpoint(eager=True)
    err_row = err.select("shard", "e").localCheckpoint(eager=True)

    applied = exactly_once_table_merge(
        spark, summary_path, batch_id,
        lambda t: delta if t is None else (
            t.unionByName(delta)
            .groupBy("item")
            .agg(F.sum("cc").cast("bigint").alias("cc"))
        ),
    )
    exactly_once_table_merge(
        spark, err_path, batch_id,
        lambda t: err_row if t is None else t.unionByName(err_row),
    )
    return applied


def spacesaving_stream(
    docs_stream: DataFrame, summary_path: str, err_path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Streaming twin of sketch_spacesaving_merge: maintain the
    mergeable heavy-hitter summary continuously.  Because the summary
    algebra is shard-associative and order-free (per-item addition;
    error bounds accumulate), the streamed state over ANY batching
    where each micro-batch coincides with one batch-query shard equals
    the batch query's merged summary exactly -- parity pinned in
    tests/test_streaming.py."""

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        spacesaving_merge_step(
            batch_df.sparkSession, batch_df, batch_id, summary_path, err_path
        )

    return _drive(docs_stream, checkpoint_dir, _step)


# ---------------------------------------------------------------------------
# Continuously-maintained per-source release manifest (streaming twin
# of release_manifest / the training_data_release "load" stage)
# ---------------------------------------------------------------------------
def release_manifest_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, state_path: str
) -> bool:
    """One exactly-once merge of a documents micro-batch into the
    per-source release manifest: every column is a commutative/
    associative reduction (count, sums, min/max, XOR fingerprint), so
    the per-batch manifest delta MERGES into the running table via a
    full-outer join on source -- counts add, ranges widen, and the
    XOR fingerprint composes because XOR is self-inverse (this is the
    property release_manifest's docstring sells: adding a document is
    one XOR, no rescan).  Like the fingerprint stream, the merge is
    additive rather than idempotent, so the shared batch-id
    high-water mark is load-bearing.  Returns False on a replay."""
    from ..plans.scrub import manifest_frame

    def _merge(target: DataFrame | None) -> DataFrame:
        delta = manifest_frame(batch_df)
        if target is None:
            return delta
        t = target.select(
            F.col("source"),
            F.col("n_docs").alias("t_docs"),
            F.col("n_tokens").alias("t_tok"),
            F.col("n_chars").alias("t_ch"),
            F.col("min_doc_id").alias("t_min"),
            F.col("max_doc_id").alias("t_max"),
            F.col("content_fingerprint").alias("t_fp"),
        )
        z = F.lit(0).cast("bigint")
        return delta.join(t, "source", "full_outer").select(
            "source",
            (F.coalesce("n_docs", z) + F.coalesce("t_docs", z))
            .cast("bigint")
            .alias("n_docs"),
            (F.coalesce("n_tokens", z) + F.coalesce("t_tok", z))
            .cast("bigint")
            .alias("n_tokens"),
            (F.coalesce("n_chars", z) + F.coalesce("t_ch", z))
            .cast("bigint")
            .alias("n_chars"),
            F.least(
                F.coalesce("min_doc_id", "t_min"),
                F.coalesce("t_min", "min_doc_id"),
            ).alias("min_doc_id"),
            F.greatest(
                F.coalesce("max_doc_id", "t_max"),
                F.coalesce("t_max", "max_doc_id"),
            ).alias("max_doc_id"),
            F.expr(
                "coalesce(content_fingerprint, 0L) ^ coalesce(t_fp, 0L)"
            )
            .cast("bigint")
            .alias("content_fingerprint"),
        )

    return exactly_once_table_merge(spark, state_path, batch_id, _merge)


def release_manifest_stream(
    spark: SparkSession, docs: DataFrame, state_path: str
) -> StreamingQuery:
    """Streaming twin of release_manifest: the shippable per-source
    dataset manifest maintained continuously as documents land, so a
    release cut is a zero-scan read of the state table at ANY moment
    and a replica/rebuild check is a per-source fingerprint compare.
    Exactly-once via the shared atomic staged-swap merge."""

    return _drive(
        docs, state_path + "_chk",
        lambda df, bid: release_manifest_merge_step(spark, df, bid, state_path),
    )


# ---------------------------------------------------------------------------
# Continuously-maintained release DELTA (streaming twin of
# release_delta: the z-set per-split diff folded as churn arrives)
# ---------------------------------------------------------------------------
def release_delta_merge_step(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, state_path: str
) -> bool:
    """One exactly-once merge of a membership-change micro-batch
    (release_delta's churn rows: split_v1/split_v2/nt/h per changed
    doc) into the running per-split delta table.  The per-batch delta
    comes from the SAME aggregate core as the batch query
    (plans/quality.py::_delta_from_changes); merging is pure z-set
    algebra -- every count and token delta ADDS, and the fingerprint
    delta XORs (self-inverse), so a doc that changes membership twice
    across batches cancels out of the fingerprint exactly as a batch
    recompute would drop it.  NOTE the same is NOT true of the gross
    churn counters (n_docs_added/removed, n_resplit_in/out): they are
    cumulative-churn semantics -- a doc added in batch 1 and removed
    in batch 3 leaves added=1, removed=1, whereas a two-snapshot
    recompute over the combined state would emit neither.  Only the
    NET columns (n_docs_delta, n_tokens_delta) and fingerprint_delta
    are composition-invariant and reconcile exactly with the batch
    release_delta under multi-batch membership flapping; the gross
    counters answer "how much churn was processed", not "what differs
    between snapshots".  Additive, not idempotent: the shared
    batch-id high-water mark is load-bearing.  Returns False on a
    replay."""
    return exactly_once_table_merge(
        spark, state_path, batch_id, release_diff_merge_fn(batch_df)
    )


def release_diff_merge_fn(batch_changes: DataFrame):
    """``merge_fn(target)`` building the running per-split release-
    diff table's next full contents from a membership-change batch --
    the z-set combine release_delta_merge_step documents, factored so
    the SAME merge serves both commit disciplines: the standalone
    exactly-once table (release_delta_stream) and the store-set
    transaction member (release_delta_incremental_step, where the
    diff commits atomically WITH the store evolution)."""
    from ..plans.quality import _delta_from_changes

    def _merge(target: DataFrame | None) -> DataFrame:
        delta = _delta_from_changes(batch_changes)
        if target is None:
            return delta
        adds = (
            "n_docs_added",
            "n_docs_removed",
            "n_resplit_in",
            "n_resplit_out",
            "n_docs_delta",
            "n_tokens_delta",
        )
        t = target.select(
            "split", *[F.col(c).alias(f"t_{c}") for c in adds],
            F.col("fingerprint_delta").alias("t_fp"),
        )
        z = F.lit(0).cast("bigint")
        return delta.join(t, "split", "full_outer").select(
            "split",
            *[
                (F.coalesce(c, z) + F.coalesce(f"t_{c}", z))
                .cast("bigint")
                .alias(c)
                for c in adds
            ],
            F.expr("coalesce(fingerprint_delta, 0L) ^ coalesce(t_fp, 0L)")
            .cast("bigint")
            .alias("fingerprint_delta"),
        )

    return _merge


def release_delta_stream(
    spark: SparkSession, changes: DataFrame, state_path: str
) -> StreamingQuery:
    """Streaming twin of release_delta: the per-split release diff
    maintained continuously as membership-change records land (the
    production shape: the curation pipeline emits churn rows per
    ingest batch -- dedup_incremental's band store makes them
    batch-sized -- and the release diff is ALWAYS current, so cutting
    v2's manifest against v1 is a zero-scan read of this table).
    Exactly-once via the shared atomic staged-swap merge."""

    return _drive(
        changes, state_path + "_chk",
        lambda df, bid: release_delta_merge_step(spark, df, bid, state_path),
    )


def release_delta_incremental_step(
    spark: SparkSession,
    batch_docs: DataFrame,
    batch_id: int,
    state_box: dict,
    removed_of=None,
) -> bool:
    """One ingest DAY as a foreachBatch body -- the production-shaped
    twin of release_delta_incremental (plans/quality.py): run the
    state-PROBING incremental pass for this batch of documents, then
    commit the running per-split diff merge AND the batch's store
    deltas as ONE SnapshotSet transaction (_evolve_state with
    ``diff_merge``: the diff table is the 8th member of the store
    set, published by the same manifest pointer swap as the 7 store
    evolutions).  ``state_box`` is the mutable ``{"state": <curation
    state dict>}`` handle the evolution swaps; the running diff is
    read with ``release_diff_table``.

    The batch's is-new predicate is its ingest-bucket set, derived
    from the batch itself (one tiny distinct over the batch) -- in
    production it is the ingest-partition key (e.g. ``ingest_date =
    today``), a metadata comparison, so batches must be ingest-
    partition-aligned (daily ingest is, by construction).
    ``removed_of`` carries the day's takedown keys (production:
    key-only retraction feeds ride a side input; None = append-only).

    Exactly-once is ONE guard: the manifest's set-level batch id.  A
    replayed batch reads the committed set back and commits nothing;
    a crash ANYWHERE mid-batch (during staging, before the pointer
    swap) leaves the old consistent manifest live -- diff and stores
    can never disagree about which batches are folded in, so the
    round-10 crash windows (merge-without-evolution, partial
    evolution) are structurally gone.  At deploy this is the one
    Delta/Iceberg multi-table transaction across all eight tables."""
    from ..operators.table_format import SnapshotSet
    from ..plans.quality import (
        STORE_TABLES,
        _changes_from_frames,
        _evolve_state,
        _ib_of,
        _incremental_day_frames,
        _never,
    )

    root = state_box["state"]["_root"]
    sset = SnapshotSet(spark, root)
    applied = sset.applied_batch()
    if applied is not None and applied >= batch_id:
        # replay: the manifest proves diff + stores committed together
        state_box["state"] = {
            "_root": root, **{n: sset.read(n) for n in STORE_TABLES}
        }
        return False

    if removed_of is None:
        removed_of = _never
    batch_docs = batch_docs.localCheckpoint()
    buckets = [
        r["b"]
        for r in batch_docs.select(_ib_of(F.col("doc_id")).alias("b"))
        .distinct()
        .collect()
    ]

    def is_new_of(c):
        return _ib_of(c).isin(buckets)

    frames = _incremental_day_frames(
        spark, state_box["state"], batch_docs, removed_of, is_new_of
    )
    # ONE materialization of the affected population serves both
    # consumers (the diff merge and the ledger evolution commit) --
    # without this the store probes + CC re-run + decon joins execute
    # twice per batch.
    frames["a"] = frames["a"].localCheckpoint(eager=False)
    state_box["state"] = _evolve_state(
        spark,
        state_box["state"],
        frames,
        removed_of,
        batch_id=batch_id,
        diff_merge=release_diff_merge_fn(_changes_from_frames(frames)),
    )
    return True


def release_diff_table(spark: SparkSession, state_root: str) -> DataFrame:
    """The running per-split release-diff table -- the "diff" member
    of the curation store set at ``state_root``."""
    from ..operators.table_format import SnapshotSet

    return SnapshotSet(spark, state_root).read("diff")


def release_delta_incremental_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    state: dict,
    checkpoint_dir: str,
    removed_of_for=None,
) -> StreamingQuery:
    """Streaming twin of the release_delta_incremental flagship: the
    ingest stream's document batches drive the state-probing daily
    pass, the per-split release diff stays continuously current (the
    "diff" member of the store set; read it with
    ``release_diff_table``), and the curation stores EVOLVE batch-
    over-batch in the SAME transaction
    (release_delta_incremental_step).  ``state`` seeds the stores
    (yesterday's committed snapshot); ``removed_of_for(batch_id)``
    optionally supplies a takedown predicate per batch;
    ``checkpoint_dir`` holds only the stream's own checkpoint.

    Net columns (n_docs_delta, n_tokens_delta) and fingerprint_delta
    of the merged table reconcile exactly with the batch release_delta
    across any batch split (z-set composition); the gross churn
    counters are cumulative-churn semantics, as documented on
    release_delta_merge_step."""
    box = {"state": state}

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        removed_of = removed_of_for(batch_id) if removed_of_for else None
        release_delta_incremental_step(
            spark, batch_df, batch_id, box, removed_of
        )

    return _drive(docs_stream, checkpoint_dir, _step)
