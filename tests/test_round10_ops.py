"""Round-10 capstone: state EVOLUTION (release_delta_day2).

Day 1's store deltas are committed back into the SnapshotTable stores
and day 2 runs against the EVOLVED state.  Contracts:
  1. evolution == rebuild: every evolved store table is row-equal to
     a from-scratch state build over snapshot v1.5 (buckets 0-12,14);
  2. the day-2 pass touches document text only through the handed-in
     bucket-15 batch (zero corpus text scans when pre-materialized);
  3. the evolution really committed: each store table gained a new
     snapshot and the pointer moved (day 2 reads snapshot-1+);
  4. day-2 result == the same pass run against a REBUILT v1.5 state
     (end-to-end evolve-vs-rebuild agreement).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mvp_mini_etl_pipeline_1762840347_spark import plans
from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
from mvp_mini_etl_pipeline_1762840347_spark.plans.quality import (
    _curation_state,
    _day1_evolved_state,
    _ib_of,
    _never,
    _new_day2,
    _release_delta_incremental_pass,
)

SF = "/root/testdata/sf0.001"

_STATE_TABLES = (
    "ledger",
    "bands",
    "pairs",
    "comps",
    "doc_sh",
    "inv_idx",
    "eval_sh",
)


def _rows(df):
    return sorted(
        tuple(x if not isinstance(x, list) else tuple(x) for x in r)
        for r in df.collect()
    )


def _v15_member(c):
    ib = _ib_of(c)
    return (ib != 13) & (ib != 15)


def _rebuilt_v15(spark):
    return _curation_state(spark, SF, "v15_rebuild_test", _v15_member)


def test_evolution_equals_rebuild_per_table(spark):
    """The headline pin: every evolved store table is row-identical to
    the same table built from scratch over snapshot v1.5."""
    evolved = _day1_evolved_state(spark, SF)
    rebuilt = _rebuilt_v15(spark)
    for name in _STATE_TABLES:
        assert _rows(evolved[name]) == _rows(rebuilt[name]), name


def test_day2_pass_reads_no_corpus_text(spark):
    """Cost pin: with the bucket-15 batch pre-materialized, the day-2
    plan reads ONLY persisted (evolved) state parquet -- zero scans of
    the documents table."""
    evolved = _day1_evolved_state(spark, SF)
    batch2 = (
        read_table(spark, SF, "documents")
        .filter(_new_day2(F.col("doc_id")))
        .localCheckpoint()
    )
    out = _release_delta_incremental_pass(
        spark, evolved, batch2, removed_of=_never, is_new_of=_new_day2
    )
    out.collect()
    final = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "documents.parquet" not in final, (
        "day-2 pass must read evolved state, never corpus text"
    )


def test_evolution_committed_new_snapshots(spark):
    """The evolved tables are NEW SnapshotTable commits of the SAME
    stores day 1 used: each table's live pointer names a snapshot
    beyond snapshot-0, and the evolved frames read from it."""
    import os

    evolved = _day1_evolved_state(spark, SF)
    root = evolved["_root"]
    for name in _STATE_TABLES:
        with open(os.path.join(root, name, "_CURRENT")) as f:
            live = f.read().strip()
        assert int(live.split("-", 1)[1]) >= 1, (name, live)
        (path,) = {
            os.path.dirname(f["file_path"])
            for f in evolved[name]
            .select(F.input_file_name().alias("file_path"))
            .collect()
        }
        assert live in path, (name, live, path)


def test_release_delta_incremental_stream(spark, tmp_path_factory):
    """Streaming twin of the incremental flagship: two ingest days
    (bucket 14 with the bucket-13 takedown, then bucket 15) streamed
    as micro-batches against a seeded v1 state.  Pins: (a) the merged
    running diff's NET columns + fingerprint reconcile exactly with
    the batch release_delta (v1 -> v2); (b) the stores EVOLVED batch-
    over-batch -- the final ledger is row-equal to a from-scratch v2
    state build; (c) a replayed batch id is a no-op for BOTH the diff
    table and the store evolution."""
    from mvp_mini_etl_pipeline_1762840347_spark.plans.quality import (
        _curation_state,
        _rm_day1,
    )
    from mvp_mini_etl_pipeline_1762840347_spark.streaming import jobs

    base = tmp_path_factory.mktemp("rdi_stream")
    landing = str(base / "landing")
    chk = str(base / "chk")
    docs = read_table(spark, SF, "documents")
    ib = _ib_of(F.col("doc_id"))
    docs.filter(ib == 14).coalesce(1).write.parquet(landing, mode="overwrite")
    docs.filter(ib == 15).coalesce(1).write.parquet(landing, mode="append")

    # Fresh (non-memoized-scope) v1 state so the in-place store
    # evolution cannot interfere with the shared _v1_curation_state
    # memo other tests read.
    state = _curation_state(
        spark, SF, "v1_stream_test", lambda c: _ib_of(c) < 14
    )
    root = state["_root"]

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = jobs.release_delta_incremental_stream(
        spark,
        stream,
        state,
        chk,
        removed_of_for=lambda b: _rm_day1 if b == 0 else None,
    )
    q.awaitTermination(300)

    got = {
        r["split"]: r.asDict()
        for r in jobs.release_diff_table(spark, root).collect()
    }
    want = {
        r["split"]: r.asDict()
        for r in plans.QUERIES["release_delta"](spark, SF).collect()
    }
    # net z-set columns compose across batches; gross churn counters
    # deliberately do not (release_delta_merge_step's documented
    # cumulative-churn semantics)
    for col in ("n_docs_delta", "n_tokens_delta", "fingerprint_delta"):
        assert {s: v[col] for s, v in got.items()} == {
            s: v[col] for s, v in want.items()
        }, col

    # stores evolved to v2: final committed ledger == from-scratch v2
    import os

    def _ledger_rows(df):
        return sorted(tuple(r) for r in df.collect())

    with open(os.path.join(root, "ledger", "_CURRENT")) as f:
        live = f.read().strip()
    assert int(live.split("-", 1)[1]) == 2, live  # v1 + two evolutions
    final_ledger = spark.read.parquet(os.path.join(root, "ledger", live))
    v2 = _curation_state(
        spark, SF, "v2_stream_rebuild_test", lambda c: _ib_of(c) != 13
    )
    assert _ledger_rows(final_ledger) == _ledger_rows(v2["ledger"])

    # replay: neither the diff table nor the stores move -- the
    # manifest's set-level batch id recognizes the applied batch and
    # the step reads the committed set back without staging anything
    box = {"state": state}
    assert not jobs.release_delta_incremental_step(
        spark,
        docs.filter(ib == 15).localCheckpoint(),
        1,
        box,
    )
    with open(os.path.join(root, "ledger", "_CURRENT")) as f:
        assert f.read().strip() == live  # no new commit on replay
    # the box now holds the read-back evolved state (same rows)
    assert _ledger_rows(box["state"]["ledger"]) == _ledger_rows(final_ledger)
    still = {
        r["split"]: r.asDict()
        for r in jobs.release_diff_table(spark, root).collect()
    }
    assert still == got


def test_stream_crash_between_merge_and_evolve_recovers(spark):
    """Round-10's crash windows, closed by the SnapshotSet manifest
    commit: the diff merge and the 7 store evolutions publish in ONE
    pointer swap, so a batch is either fully applied or not applied
    at all.  A kill ANYWHERE mid-evolution (here: after every member
    is staged, at the commit itself) leaves the OLD consistent set
    live -- same diff, same stores, same applied batch -- and the
    replay applies everything; there is no partial-evolution state to
    detect, so no RuntimeError path exists any more."""
    import os

    import pytest

    from mvp_mini_etl_pipeline_1762840347_spark.operators.table_format import (
        SnapshotSet,
        SnapshotTable,
    )
    from mvp_mini_etl_pipeline_1762840347_spark.plans.quality import (
        STORE_TABLES,
        _curation_state,
        _new_day1,
        _new_day2,
        _rm_day1,
    )
    from mvp_mini_etl_pipeline_1762840347_spark.streaming import jobs

    docs = read_table(spark, SF, "documents")
    state = _curation_state(
        spark, SF, "v1_crash_test", lambda c: _ib_of(c) < 14
    )
    root = state["_root"]
    box = {"state": state}

    # batch 0 applies normally (diff + evolution, one transaction)
    assert jobs.release_delta_incremental_step(
        spark,
        docs.filter(_new_day1(F.col("doc_id"))).localCheckpoint(),
        0,
        box,
        removed_of=_rm_day1,
    )
    sset = SnapshotSet(spark, root)
    assert sset.applied_batch() == 0
    diff_before = sorted(
        tuple(r) for r in jobs.release_diff_table(spark, root).collect()
    )
    ledger_before = sorted(
        tuple(r) for r in box["state"]["ledger"].collect()
    )
    version_before = sset.version()

    # batch 1 "crashes" at the commit point: every member (7 stores +
    # the diff) is already staged, but the manifest swap never runs
    batch2 = docs.filter(_new_day2(F.col("doc_id"))).localCheckpoint()
    real_commit = SnapshotSet.commit_staged

    def _dying_commit(self, marker=None):
        raise RuntimeError("simulated kill at the commit point")

    SnapshotSet.commit_staged = _dying_commit
    try:
        with pytest.raises(RuntimeError, match="simulated kill"):
            jobs.release_delta_incremental_step(spark, batch2, 1, box)
    finally:
        SnapshotSet.commit_staged = real_commit

    # nothing applied: the OLD consistent set is live -- manifest,
    # batch id, diff, and every store read unchanged
    recovered = SnapshotSet(spark, root)
    assert recovered.version() == version_before
    assert recovered.applied_batch() == 0
    assert sorted(
        tuple(r) for r in jobs.release_diff_table(spark, root).collect()
    ) == diff_before
    assert sorted(
        tuple(r) for r in recovered.read("ledger").collect()
    ) == ledger_before

    # restart replay of batch 1: everything applied together
    box = {"state": {"_root": root,
                     **{n: recovered.read(n) for n in STORE_TABLES}}}
    assert jobs.release_delta_incremental_step(spark, batch2, 1, box)
    assert SnapshotSet(spark, root).applied_batch() == 1
    v2 = _curation_state(
        spark, SF, "v2_crash_rebuild", lambda c: _ib_of(c) != 13
    )
    got = sorted(tuple(r) for r in box["state"]["ledger"].collect())
    want = sorted(tuple(r) for r in v2["ledger"].collect())
    assert got == want

    # a rogue per-table commit OUTSIDE the set moves that table's own
    # pointer but not the manifest: readers through the set still see
    # the consistent committed member (isolation at set grain)
    rogue = SnapshotTable(spark, os.path.join(root, "ledger"))
    live_manifest_snap = SnapshotSet(spark, root).manifest()["tables"][
        "ledger"
    ]
    rogue.commit(box["state"]["ledger"].limit(1))
    assert SnapshotSet(spark, root).manifest()["tables"]["ledger"] == (
        live_manifest_snap
    )
    assert sorted(
        tuple(r)
        for r in SnapshotSet(spark, root).read("ledger").collect()
    ) == got


def test_evolved_store_vacuum_under_churn(spark):
    """Store maintenance under churn, at MANIFEST grain: after an
    evolution the set holds two manifests; time travel at the SET
    level reads the consistent pre-evolution state across every
    member; vacuum(keep_last=1) expires the superseded manifest and
    exactly the member snapshots only it referenced, and the evolved
    set still reads intact -- the expire-snapshots cadence a daily
    pipeline runs on its state stores."""
    import os

    from mvp_mini_etl_pipeline_1762840347_spark.operators.table_format import (
        SnapshotSet,
    )
    from mvp_mini_etl_pipeline_1762840347_spark.plans.quality import (
        STORE_TABLES,
        _curation_state,
        _evolve_state,
        _incremental_day_frames,
        _new_day1,
        _rm_day1,
    )

    state = _curation_state(
        spark, SF, "v1_vacuum_test", lambda c: _ib_of(c) < 14
    )
    batch1 = read_table(spark, SF, "documents").filter(
        _new_day1(F.col("doc_id"))
    )
    frames = _incremental_day_frames(
        spark, state, batch1, removed_of=_rm_day1, is_new_of=_new_day1
    )
    evolved = _evolve_state(spark, state, frames, _rm_day1)

    sset = SnapshotSet(spark, state["_root"])
    assert sset.versions() == [0, 1] and sset.version() == 1
    # set-level time travel: version 0 is yesterday's CONSISTENT set
    for name in ("ledger", "bands"):
        assert (
            sset.read_version(0, name).count() == state[name].count()
        ), name
    want = evolved["ledger"].count()

    removed = sset.vacuum(keep_last=1)
    # exactly the superseded manifest and every member snapshot only
    # it referenced (each store moved in the evolution, so each loses
    # its snapshot-0)
    assert removed.pop("_manifests") == ["manifest-0"]
    assert set(removed) == set(STORE_TABLES)
    assert all(v == ["snapshot-0"] for v in removed.values())
    assert not os.path.exists(
        os.path.join(state["_root"], "ledger", "snapshot-0")
    )
    assert sset.read("ledger").count() == want  # live set intact


def test_advisor_report_cache_parity_and_consistency(spark):
    """advisor_report: (a) fragment-cache on == off (including a warm
    cached call); (b) composite == parts -- every section's rows are
    exactly its advisor's own output projected onto the report
    schema (here: the runtime-filter section vs the registered
    runtime_filter_advisor)."""
    import os

    from mvp_mini_etl_pipeline_1762840347_spark.plans import quality

    cold = _rows(plans.QUERIES["advisor_report"](spark, SF))
    quality._FRAGMENT_CACHE.clear()
    os.environ["SPARK_GRAFT_FRAGMENT_CACHE"] = "1"
    try:
        assert _rows(plans.QUERIES["advisor_report"](spark, SF)) == cold
        assert _rows(plans.QUERIES["advisor_report"](spark, SF)) == cold
    finally:
        os.environ.pop("SPARK_GRAFT_FRAGMENT_CACHE", None)
        quality._FRAGMENT_CACHE.clear()

    rfa = {
        r["join_id"]: r
        for r in plans.QUERIES["runtime_filter_advisor"](spark, SF).collect()
    }
    section = [r for r in cold if r[0] == "runtime-filter"]
    assert len(section) == len(rfa)
    for _, subject, rec, metric in section:
        want = rfa[subject]
        assert rec == (
            ("bloom:" if want["use_bloom_filter"] else "skip:")
            + want["reason"]
        )
        assert metric == float(want["pruned_ppm"])


def test_fan_out_failure_names_member_after_all_finish():
    """fan_out (advisor_report's prefill and the store staging writes)
    re-raises a member's failure with its own type, noted with the
    member's name, and only after every other member has finished."""
    import time

    import pytest

    from mvp_mini_etl_pipeline_1762840347_spark.plans.fragments import fan_out

    done: list[str] = []

    def ok(name: str, delay: float):
        def call() -> str:
            time.sleep(delay)
            done.append(name)
            return name

        return call

    def fail() -> str:
        raise ValueError("stats pass failed")

    with pytest.raises(ValueError, match="stats pass failed") as info:
        fan_out({"first": ok("first", 0.0), "middle": fail,
                 "last": ok("last", 0.3)})
    assert type(info.value) is ValueError
    assert "fan_out member 'middle'" in info.value.__notes__
    assert sorted(done) == ["first", "last"]
    assert fan_out({"a": ok("a", 0.0), "b": ok("b", 0.0)}) == {"a": "a", "b": "b"}


def test_day2_evolved_equals_day2_rebuilt(spark):
    """End-to-end: the registered day-2 query (evolved state) returns
    the same rows as the identical pass against a rebuilt v1.5 state
    -- and both match the from-scratch v1.5 -> v2 diff semantics the
    DuckDB oracle pins at the driver gate."""
    via_evolved = _rows(plans.QUERIES["release_delta_day2"](spark, SF))
    batch2 = read_table(spark, SF, "documents").filter(
        _new_day2(F.col("doc_id"))
    )
    via_rebuilt = _rows(
        _release_delta_incremental_pass(
            spark,
            _rebuilt_v15(spark),
            batch2,
            removed_of=_never,
            is_new_of=_new_day2,
        )
    )
    assert via_evolved == via_rebuilt
