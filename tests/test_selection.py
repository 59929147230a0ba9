"""Order-statistic selection invariants: the histogram-narrowing
operator (operators/selection.py) against brute-force sorts,
including the cases the sf-data oracle never exercises -- heavy ties
at the cut points, multi-rank queries, many narrowing rounds, and
degenerate bin widths."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

import __spark_entry__ as entrymod
from mvp_mini_etl_pipeline_1762840347_spark.operators.selection import (
    rank_select,
)

SF = "/root/testdata/sf0.001"

_V_SCHEMA = StructType([StructField("c", LongType())])


def _select(spark, values, ranks, **kw):
    v = spark.createDataFrame([(int(x),) for x in values], _V_SCHEMA)
    bounds = (int(min(values)), int(max(values)))
    return rank_select(v, {q: int(k) for q, k in ranks}, bounds, **kw)


def test_rank_select_matches_sort_with_ties(spark):
    rng = np.random.RandomState(7)
    values = rng.randint(-50, 50, size=400)  # dense duplicates
    s = np.sort(values)
    ranks = [("q1", 1), ("q2", 17), ("q3", 200), ("q4", 399), ("q5", 400)]
    got = _select(spark, values, ranks)
    assert got == {q: int(s[k - 1]) for q, k in ranks}


def test_rank_select_extra_rounds_and_tiny_bins(spark):
    """bins=4 forces real multi-round narrowing (each round resolves
    only 2 bits of the range, 7 rounds here); result identical."""
    rng = np.random.RandomState(11)
    values = rng.randint(0, 10_000, size=1000)
    s = np.sort(values)
    ranks = [("med", 500), ("p90", 900)]
    got = _select(spark, values, ranks, bins=4)
    assert got == {q: int(s[k - 1]) for q, k in ranks}


def test_rank_select_constant_column(spark):
    """All-equal input: every bucket width clamps to 1 and any rank
    selects the single value."""
    got = _select(spark, [42] * 50, [("a", 1), ("b", 25), ("c", 50)])
    assert got == {"a": 42, "b": 42, "c": 42}


def test_trimmed_mean_matches_row_exact_numpy(spark):
    """trimmed_mean_exact == numpy row-exact trimming at sf0.001
    (the tie arithmetic reproduces drop-k-rows, not a value filter)."""
    row = (
        entrymod.queries()["trimmed_mean_exact"](spark, SF)
        .collect()[0]
        .asDict()
    )
    c = np.sort(
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select(
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c")
        )
        .toPandas()["c"]
        .to_numpy()
    )
    n = len(c)
    k = n * 10 // 100
    kept = c[k : n - k]
    assert row["n_rows"] == n and row["k_trim"] == k
    assert row["kept_rows"] == len(kept)
    assert row["kept_cents"] == int(kept.sum())
    assert row["trimmed_mean_cents"] == round(kept.sum() / len(kept), 4)


def test_exact_median_matches_numpy(spark):
    row = (
        entrymod.queries()["exact_median_2pass"](spark, SF)
        .collect()[0]
        .asDict()
    )
    c = np.sort(
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select(
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c")
        )
        .toPandas()["c"]
        .to_numpy()
    )
    assert row["median_cents"] == int(c[(len(c) + 1) // 2 - 1])


def test_influence_diagnostics_matches_numpy(spark):
    """Cook's distance / leverage recomputed densely in numpy; the
    registered query's top-k must be the global argmax set."""
    rows = (
        entrymod.queries()["influence_diagnostics"](spark, SF)
        .toPandas()
    )
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("bigint").alias("x"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("y"),
        )
        .toPandas()
    )
    x = df["x"].to_numpy(dtype=np.float64)
    y = df["y"].to_numpy(dtype=np.float64)
    n = len(x)
    b = (n * (x * y).sum() - x.sum() * y.sum()) / (
        n * (x * x).sum() - x.sum() ** 2
    )
    a = (y.sum() - b * x.sum()) / n
    e = y - (a + b * x)
    sxxc = (x * x).sum() - x.sum() ** 2 / n
    h = 1.0 / n + (x - x.mean()) ** 2 / sxxc
    s2 = (e**2).sum() / (n - 2)
    d = e**2 * h / (2 * s2 * (1 - h) ** 2)
    order = np.lexsort((df["l_linenumber"], df["l_orderkey"], -d))
    top = df.iloc[order[:15]]
    assert list(rows["l_orderkey"]) == list(top["l_orderkey"])
    assert list(rows["l_linenumber"]) == list(top["l_linenumber"])
    dd = d[order[:15]]
    assert np.allclose(rows["cooks_d"].to_numpy(), dd, rtol=1e-5)


def test_rank_select_weighted_matches_repeat_expansion(spark):
    """Weighted selection == unweighted selection over the
    weight-expanded multiset (the defining property)."""
    rng = np.random.RandomState(3)
    vals = rng.randint(-20, 20, size=120)
    wts = rng.randint(1, 9, size=120)
    expanded = np.sort(np.repeat(vals, wts))
    total = int(wts.sum())
    ranks = [("a", 1), ("b", (total + 1) // 2), ("c", total)]
    schema = StructType(
        [StructField("c", LongType()), StructField("w", LongType())]
    )
    v = spark.createDataFrame(
        [(int(c), int(w)) for c, w in zip(vals, wts)], schema
    )
    got = rank_select(
        v, dict(ranks), (int(vals.min()), int(vals.max())), bins=4, weight="w"
    )
    assert got == {q: int(expanded[k - 1]) for q, k in ranks}


def test_exact_deciles_match_numpy(spark):
    rows = entrymod.queries()["exact_deciles"](spark, SF).collect()
    c = np.sort(
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select(
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c")
        )
        .toPandas()["c"]
        .to_numpy()
    )
    n = len(c)
    assert len(rows) == 9
    for row in rows:
        k = row["decile"]
        rank = -(-n * k // 10)  # ceil
        assert row["target_rank"] == rank
        assert row["value_cents"] == int(c[rank - 1])


def test_token_weighted_median_crosses_half_the_token_mass(spark):
    row = (
        entrymod.queries()["token_weighted_median_len"](spark, SF)
        .collect()[0]
        .asDict()
    )
    lens = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.size(F.split(F.lower(F.col("text")), r"\s+")).alias("n"))
        .toPandas()["n"]
        .to_numpy(dtype=np.int64)
    )
    s = np.sort(lens)
    cum = np.cumsum(s)
    target = (lens.sum() + 1) // 2
    expect = int(s[np.searchsorted(cum, target)])
    assert row["total_tokens"] == int(lens.sum())
    assert row["median_token_doc_len"] == expect


def test_rank_select_grouped_matches_per_group_sort(spark):
    """Grouped selection (v carries qid): each query must select
    over ONLY its own group's rows."""
    rng = np.random.RandomState(5)
    rows = [
        (chr(ord("a") + int(g)), int(c))
        for g, c in zip(
            rng.randint(0, 3, size=300), rng.randint(-100, 100, size=300)
        )
    ]
    schema = StructType(
        [StructField("qid", StringType()), StructField("c", LongType())]
    )
    v = spark.createDataFrame(rows, schema)
    import collections

    groups = collections.defaultdict(list)
    for g, c in rows:
        groups[g].append(c)
    ranks, bounds, want = {}, {}, {}
    for g, vals in groups.items():
        vals.sort()
        k = (len(vals) * 95 + 99) // 100  # ceil(0.95 n)
        ranks[g] = k
        bounds[g] = (vals[0], vals[-1])
        want[g] = vals[k - 1]
    assert rank_select(v, ranks, bounds, bins=8) == want


def test_events_exact_p95_matches_numpy(spark):
    rows = entrymod.queries()["events_exact_p95"](spark, SF).collect()
    df = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("c"),
        )
        .toPandas()
    )
    for r in rows:
        vals = np.sort(
            df[df["event_type"] == r.event_type]["c"].to_numpy()
        )
        k = (len(vals) * 95 + 99) // 100
        assert r.n_events == len(vals)
        assert r.target_rank == k
        assert r.p95_cents == int(vals[k - 1]), r.event_type


def test_pack_sizeclass_invariants(spark):
    """Harmonic packing guarantees: every document lands in exactly
    one sequence, no sequence exceeds the budget, and every
    non-final sequence of a class is >50% utilized."""
    rows = (
        entrymod.queries()["pack_sizeclass"](spark, SF).toPandas()
    )
    n_docs_total = (
        spark.read.parquet(f"{SF}/documents.parquet").count()
    )
    assert int(rows["n_docs"].sum()) == n_docs_total
    assert (rows["seq_tokens"] <= 512).all()
    last_seq = rows.groupby("size_class")["seq_in_class"].transform("max")
    non_final = rows[rows["seq_in_class"] < last_seq]
    assert (non_final["utilization_pct"] > 50.0).all()
    # full sequences hold exactly docs_per_seq documents
    assert (non_final["n_docs"] == non_final["docs_per_seq"]).all()


def test_conformal_interval_matches_sequential(spark):
    """Sequential recompute of the whole conformal pipeline: same
    splits, OLS fit, calibration quantile, and coverage."""
    row = (
        entrymod.queries()["conformal_interval"](spark, SF)
        .collect()[0]
        .asDict()
    )
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select(
            (F.col("l_orderkey") % 10).alias("fold"),
            F.col("l_quantity").cast("bigint").alias("x"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("y"),
        )
        .toPandas()
    )
    tr = df[df["fold"] < 8]
    n = len(tr)
    sx, sy = tr["x"].sum(), tr["y"].sum()
    sxx = (tr["x"] * tr["x"]).sum()
    sxy = (tr["x"] * tr["y"]).sum()
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    a = (sy - b * sx) / n

    def scores(part):
        return np.round(
            np.abs(part["y"].to_numpy() - (a + b * part["x"].to_numpy()))
        ).astype(np.int64)

    cal = np.sort(scores(df[df["fold"] == 8]))
    k = min(((len(cal) + 1) * 90 + 99) // 100, len(cal))
    q = int(cal[k - 1])
    ts = scores(df[df["fold"] == 9])
    assert row["n_train"] == n and row["n_cal"] == len(cal)
    assert row["target_rank"] == k and row["q_hat_cents"] == q
    assert row["n_test"] == len(ts)
    assert row["n_covered"] == int((ts <= q).sum())
    # the guarantee itself (finite-sample, so allow slack)
    assert row["coverage_pct"] > 80.0


def test_weighted_median_delay_matches_numpy(spark):
    """Grouped+weighted selection: per-priority revenue-weighted
    median delay recomputed densely."""
    rows = {
        r.priority: r
        for r in entrymod.queries()["weighted_median_delay"](
            spark, SF
        ).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    df = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_orderpriority").alias("p"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).cast("bigint").alias("c"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint").alias("w"),
        )
        .toPandas()
    )
    for p, grp in df.groupby("p"):
        g = grp.sort_values("c")
        cum = g["w"].cumsum().to_numpy()
        target = (int(g["w"].sum()) + 1) // 2
        expect = int(g["c"].to_numpy()[np.searchsorted(cum, target)])
        r = rows[p]
        assert r.total_weight_cents == int(g["w"].sum())
        assert r.target_w == target
        assert r.median_delay_days == expect, p


def test_rank_select_wide_domain_beyond_double_precision(spark):
    """Values spanning more than 2^53: the old float-division binning
    could misbin (a double cannot represent every integer out here);
    the integer-div form must still select exactly.  Adjacent odd
    values near 2^62 differ below double resolution, so any float
    round-trip in the binning shows up as a wrong order statistic."""
    base = 1 << 62
    rng = np.random.RandomState(3)
    offs = rng.choice(2_000_000, size=501, replace=False)
    values = [base + int(o) for o in offs] + [-base - int(o) for o in offs]
    s = sorted(values)
    ranks = [("lo", 1), ("q1", 250), ("med", 501), ("q3", 750), ("hi", 1002)]
    got = _select(spark, values, ranks)
    assert got == {q: s[k - 1] for q, k in ranks}


def test_token_weighted_median_len_warm_call_job_budget(spark, count_jobs):
    """Driver-steered rounds: a warm call (schema memoized) is the
    checkpoint, the one stats aggregation, the histogram rounds and
    the landed row's write -- at most 8 jobs, where the broadcast-
    bounds plan ran 15."""
    run = entrymod.queries()["token_weighted_median_len"]

    def call():
        run(spark, SF).write.format("noop").mode("overwrite").save()

    call()
    _, jobs = count_jobs(call)
    assert 0 < jobs <= 8


def test_conformal_interval_warm_call_job_budget(spark, count_jobs):
    """The one-row OLS fit is read into Python and its b/a doubles reach
    the fold scores as literals: a warm call is the fit, the
    calibration checkpoint, its stats, the histogram rounds and the
    write -- at most 13 jobs, where broadcasting the checkpointed fit
    into both folds and the final cross join ran 16."""
    run = entrymod.queries()["conformal_interval"]

    def call():
        run(spark, SF).write.format("noop").mode("overwrite").save()

    call()
    _, jobs = count_jobs(call)
    assert 0 < jobs <= 13


_SELECTION_QUERIES = {
    "token_weighted_median_len": [
        ("total_tokens", "bigint"), ("target_w", "bigint"),
        ("median_token_doc_len", "bigint"),
    ],
    "exact_median_2pass": [
        ("n_rows", "bigint"), ("target_rank", "bigint"), ("median_cents", "bigint"),
    ],
    "trimmed_mean_exact": [
        ("n_rows", "bigint"), ("k_trim", "bigint"), ("kept_rows", "bigint"),
        ("kept_cents", "bigint"), ("trimmed_mean_cents", "double"),
    ],
    "exact_deciles": [
        ("decile", "bigint"), ("target_rank", "bigint"), ("value_cents", "bigint"),
    ],
    "weighted_median_delay": [
        ("priority", "string"), ("total_weight_cents", "bigint"),
        ("target_w", "bigint"), ("median_delay_days", "bigint"),
    ],
    "events_exact_p95": [
        ("event_type", "string"), ("n_events", "bigint"),
        ("target_rank", "bigint"), ("p95_cents", "bigint"),
    ],
    "conformal_interval": [
        ("n_train", "bigint"), ("n_cal", "bigint"), ("target_rank", "bigint"),
        ("q_hat_cents", "bigint"), ("n_test", "bigint"),
        ("n_covered", "bigint"), ("coverage_pct", "double"),
    ],
}


def test_selection_queries_on_empty_tables(spark, tmp_path):
    """Every rank_select caller over zero-row tables returns no row
    under its usual schema, as the broadcast-bounds plans did (a null
    or zero rank selects nothing)."""
    import pyarrow.parquet as pq

    from mvp_mini_etl_pipeline_1762840347_spark.io import TABLES

    for t in TABLES:
        table = pq.read_table(f"{SF}/{t}.parquet")
        pq.write_table(table.slice(0, 0), str(tmp_path / f"{t}.parquet"))
    for name, dtypes in _SELECTION_QUERIES.items():
        df = entrymod.queries()[name](spark, str(tmp_path))
        assert df.dtypes == dtypes, name
        assert df.collect() == [], name


def test_rank_select_out_of_range_ranks_select_nothing(spark):
    """A rank below 1, None, or past the total resolves no value;
    the in-range ranks beside them are unaffected."""
    got = _select(spark, [5, 1, 3], [("zero", 0), ("past", 4), ("mid", 2)])
    assert got == {"mid": 3}
    v = spark.createDataFrame([(1,)], _V_SCHEMA)
    assert rank_select(v, {"none": None}, (1, 1)) == {}
    assert rank_select(v, {"empty": 1}, (None, None)) == {}
