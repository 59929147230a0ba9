"""Round-9 flagship: release_delta computed INCREMENTALLY from
yesterday's persisted curation state plus today's batch.

Three contracts:
  1. incremental == from-scratch release_delta, exactly (same rows);
  2. the daily pass touches document TEXT only through the handed-in
     batch -- with the batch pre-materialized, its plan contains ZERO
     scans of the documents table (everything corpus-sided reads the
     persisted SnapshotTable state);
  3. the state really is persisted: seven committed snapshot tables,
     each readable back and consistent with the batch pipeline's view
     of snapshot v1.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mvp_mini_etl_pipeline_1762840347_spark import plans
from mvp_mini_etl_pipeline_1762840347_spark.io import read_table
from mvp_mini_etl_pipeline_1762840347_spark.plans.quality import (
    _ib_of,
    _kept_docs_frame,
    _release_delta_incremental_pass,
    _v1_curation_state,
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
    return sorted(tuple(r) for r in df.collect())


def test_incremental_equals_recompute(spark):
    """The headline pin: the state-probing daily pass emits the SAME
    per-split diff the from-scratch two-snapshot curation derives."""
    full = _rows(plans.QUERIES["release_delta"](spark, SF))
    inc = _rows(plans.QUERIES["release_delta_incremental"](spark, SF))
    assert inc == full


def test_incremental_pass_reads_no_corpus_text(spark):
    """Cost pin: hand the pass a pre-materialized batch and its whole
    plan reads ONLY the persisted state parquet -- zero scans of the
    documents table.  (In the registered query the batch comes from a
    bucket-filtered documents scan, so its text I/O is batch-sized by
    construction; this pin proves nothing ELSE reads text.)"""
    state = _v1_curation_state(spark, SF)
    batch = (
        read_table(spark, SF, "documents")
        .filter(_ib_of(F.col("doc_id")).isin(14, 15))
        .localCheckpoint()
    )
    out = _release_delta_incremental_pass(spark, state, batch)
    out.collect()
    final = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "documents.parquet" not in final, (
        "incremental pass must read corpus state, never corpus text"
    )


def test_state_is_persisted_snapshot_tables(spark):
    """Every state table is a committed SnapshotTable (pointer file +
    snapshot dir) and the ledger's kept-split column reconciles with
    the batch pipeline's v1 kept-docs frame doc by doc."""
    import os

    state = _v1_curation_state(spark, SF)
    # underscore keys are plumbing (the table root the day-2 evolution
    # commits into), not state tables
    state = {k: v for k, v in state.items() if not k.startswith("_")}
    assert set(state) == set(_STATE_TABLES)
    for name, df in state.items():
        (path,) = {
            os.path.dirname(os.path.dirname(f["file_path"]))
            for f in df.select(
                F.input_file_name().alias("file_path")
            ).collect()
        }
        path = path.removeprefix("file://")
        assert os.path.exists(os.path.join(path, "_CURRENT")), name

    ledger_kept = {
        r["doc_id"]: r["split_v1"]
        for r in state["ledger"].filter(F.col("split_v1").isNotNull()).collect()
    }
    v1 = read_table(spark, SF, "documents").filter(
        _ib_of(F.col("doc_id")) < 14
    )
    batch_kept = {
        r["doc_id"]: r["split"]
        for r in _kept_docs_frame(spark, SF, v1).collect()
    }
    assert ledger_kept == batch_kept


def test_pass_is_churn_shaped(spark):
    """The CC re-run's edge input is the affected components' edges
    plus the new pairs -- strictly fewer edges than the full v1 pair
    store when most components are untouched (scale shape: churn,
    not corpus)."""
    state = _v1_curation_state(spark, SF)
    n_store_pairs = state["pairs"].count()
    # Edges reaching the re-run = store pairs whose component is
    # seeded by churn; pin that at least one v1 component survives
    # untouched (otherwise the "incremental" pass degenerates).
    batch = read_table(spark, SF, "documents").filter(
        _ib_of(F.col("doc_id")).isin(14, 15)
    )
    from mvp_mini_etl_pipeline_1762840347_spark.plans.dedup import (
        incremental_lsh_candidates,
    )

    ib = _ib_of(F.col("doc_id"))
    new_pairs, _ = incremental_lsh_candidates(
        state["bands"].filter(ib != 13), batch
    )
    seed = (
        state["ledger"].filter(ib == 13).select("doc_id")
        .unionByName(new_pairs.select(F.col("doc_a").alias("doc_id")))
        .unionByName(new_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    touched = (
        state["comps"].join(seed, "doc_id").select("cluster_id").distinct()
    )
    n_touched_edges = (
        state["pairs"]
        .join(
            state["comps"].withColumnRenamed("doc_id", "doc_a"), "doc_a"
        )
        .join(touched, "cluster_id")
        .count()
    )
    assert n_touched_edges < n_store_pairs, (
        "churn must leave some v1 components untouched at this sf; "
        f"touched={n_touched_edges} total={n_store_pairs}"
    )


def test_fragment_cache_parity(spark):
    """SPARK_GRAFT_FRAGMENT_CACHE=1 (bench mode) must be value-neutral:
    every fragment-rerouted family returns identical rows with the
    cache on (including a warm second call served from the cached
    fragment) and off.  One consumer per fragment (VERDICT r11 #2):
    corpus_disposition (disposition frame), release_delta_incremental
    (curation-state memo + daily-pass fragment), graph_triangle_count
    (co-purchase edge fragment), dedup_containment (corpus doc-shingle
    store), dedup_simhash_hamming (simhash fingerprint fragment), and
    corpus_clean_split (store-derived drop set + band signatures).  The
    remaining consumers of the shingle store and the band signatures
    (decontaminate_eval_overlap, dedup_incremental, release_delta,
    dedup_lsh_recall, dedup_minhash_lsh) pin that the one derivation
    gives the same rows materialized and served as composed lazily."""
    import os

    from mvp_mini_etl_pipeline_1762840347_spark.plans import quality

    names = (
        "corpus_disposition",
        "release_delta_incremental",
        "graph_triangle_count",
        "dedup_containment",
        "dedup_simhash_hamming",
        "corpus_clean_split",
        "decontaminate_eval_overlap",
        "dedup_incremental",
        "release_delta",
        "dedup_lsh_recall",
        "dedup_minhash_lsh",
    )
    cold = {n: _rows(plans.QUERIES[n](spark, SF)) for n in names}
    quality._FRAGMENT_CACHE.clear()
    os.environ["SPARK_GRAFT_FRAGMENT_CACHE"] = "1"
    try:
        for n in names:
            assert _rows(plans.QUERIES[n](spark, SF)) == cold[n], n
            # warm: served from the cached fragment / prebuilt state
            assert _rows(plans.QUERIES[n](spark, SF)) == cold[n], n
        assert quality._FRAGMENT_CACHE, "cache should have entries"
    finally:
        os.environ.pop("SPARK_GRAFT_FRAGMENT_CACHE", None)
        quality._FRAGMENT_CACHE.clear()


def test_runtime_filter_decision_flips_on_selectivity(spark):
    """The SAME lineitem-part join flips verdict on predicate
    selectivity alone (apply at size<=5, low-pruning at size<=45),
    and the candidate set exercises every reason branch that can
    fire at this sf."""
    rows = {
        r["join_id"]: r
        for r in plans.QUERIES["runtime_filter_advisor"](spark, SF).collect()
    }
    tight = rows["lineitem*part[size<=5]"]
    loose = rows["lineitem*part[size<=45]"]
    assert tight["use_bloom_filter"] and tight["reason"] == "apply"
    assert not loose["use_bloom_filter"] and loose["reason"] == "low-pruning"
    assert tight["pruned_ppm"] > loose["pruned_ppm"]
    reasons = {r["reason"] for r in rows.values()}
    assert {"apply", "low-pruning", "broadcast-join"} <= reasons
